"""The byte-identity gate (BASELINE.json:6,15): Spark pipeline vs goldens.

Golden outputs are produced by the frozen single-threaded reference
``ocr_spark.goldenref`` (standing in for the empty reference checkout —
SURVEY.md §0/§5.1) and committed at tests/fixtures/golden.json.
"""

from __future__ import annotations

import pytest


def _spark_results(spark, fixture_df):
    from ocr_spark.operators.extract import extract_pages

    out = {}
    for r in extract_pages(fixture_df).collect():
        key = (r.url, r.warc_ts.isoformat())
        out[key] = r
    return out


@pytest.fixture(scope="module")
def extracted(spark, fixture_df):
    return _spark_results(spark, fixture_df)


def test_goldenref_is_stable(golden_records):
    """Regenerating goldens from the frozen reference must match the
    committed file — catches accidental spec drift."""
    from ocr_spark.gen import fixture_pages
    from ocr_spark.goldenref import extract_document

    regen = {}
    for page in fixture_pages():
        g = extract_document(page["url"], page["html"], page["lang"])
        regen[(page["url"], page["warc_ts"].isoformat())] = g
    assert len(regen) == len(golden_records)
    for rec in golden_records:
        g = regen[(rec["url"], rec["warc_ts"])]
        assert g["extracted_text"] == rec["extracted_text"], rec["url"]
        assert g["text_sha256"] == rec["text_sha256"], rec["url"]
        assert g["links"] == rec["links"], rec["url"]
        assert g["meta"] == rec["meta"], rec["url"]
        assert g["tables"] == rec["tables"], rec["url"]


# sha256 over (url, NUL, html, NUL) of every seed-42 fixture page, in order
_SEED42_PAYLOADS_SHA = (
    "4c2ee8cb5a24524b36017d513ab720f97ac4673847b976f27ad8f90eca657cc3"
)


def test_fixture_pages_every_seed_builds():
    """Every seed builds (a French salad holding "œ" once made 49 of seeds
    0-59 raise UnicodeEncodeError), the undeclared legacy page still takes
    the latin-1 fallback arm, and the default seed's payloads — the ones
    the goldens were made from — do not move."""
    import hashlib

    from ocr_spark.gen import fixture_pages
    from ocr_spark.html_blocks import sniff_decode

    for seed in range(60):
        pages = fixture_pages(seed)
        legacy = next(
            p["html"] for p in pages
            if p["url"].endswith("/charset-undeclared-fallback")
        )
        assert sniff_decode(legacy) == legacy.decode("latin-1"), seed
    h = hashlib.sha256()
    for p in fixture_pages(42):
        h.update(p["url"].encode() + b"\0" + (p["html"] or b"") + b"\0")
    assert h.hexdigest() == _SEED42_PAYLOADS_SHA


def test_links_exact(spark, fixture_df, golden_records):
    """SPEC §5 gate: pipeline outlinks == golden reference, per url, exact
    (href bytes, anchor bytes, link_id order)."""
    from ocr_spark.operators.extract import extract_outlinks

    got: dict = {}
    for r in extract_outlinks(fixture_df).collect():
        got.setdefault((r.url, r.warc_ts.isoformat()), []).append(
            (r.link_id, r.href, r.anchor)
        )
    for rec in golden_records:
        want = [
            (lk["link_id"], lk["href"], lk["anchor"]) for lk in rec["links"]
        ]
        have = sorted(got.get((rec["url"], rec["warc_ts"]), []))
        assert have == want, rec["url"]


def test_meta_exact(spark, fixture_df, golden_records):
    """SPEC §6 gate: pipeline page metadata == golden reference, per url,
    byte-exact across all four fields."""
    from ocr_spark.operators.extract import extract_metadata

    got = {
        (r.url, r.warc_ts.isoformat()): {
            "title": r.title,
            "description": r.description,
            "canonical": r.canonical,
            "og_title": r.og_title,
        }
        for r in extract_metadata(fixture_df).collect()
    }
    for rec in golden_records:
        assert got[(rec["url"], rec["warc_ts"])] == rec["meta"], rec["url"]


def test_tables_exact(spark, fixture_df, golden_records):
    """SPEC §7 gate: pipeline table-cell fragments == golden reference,
    per url, exact (ids, header flag, cell bytes, document order)."""
    from ocr_spark.operators.extract import extract_tables

    got: dict = {}
    for r in extract_tables(fixture_df).collect():
        got.setdefault((r.url, r.warc_ts.isoformat()), []).append(
            (r.table_id, r.row_id, r.cell_id, r.header, r.cell_text)
        )
    for rec in golden_records:
        want = [
            (c["table_id"], c["row_id"], c["cell_id"], c["header"], c["text"])
            for c in rec["tables"]
        ]
        have = sorted(got.get((rec["url"], rec["warc_ts"]), []))
        assert have == sorted(want), rec["url"]


def test_rowcount(extracted, golden_records):
    assert len(extracted) == len(golden_records)


def test_byte_identical_text(extracted, golden_records):
    for rec in golden_records:
        r = extracted[(rec["url"], rec["warc_ts"])]
        assert r.extracted_text == rec["extracted_text"], rec["url"]
        assert r.text_sha256 == rec["text_sha256"], rec["url"]


def test_spans_exact(extracted, golden_records):
    for rec in golden_records:
        r = extracted[(rec["url"], rec["warc_ts"])]
        got = [[s.block_id, s.start, s.end, s.label] for s in r.spans]
        want = [[s["block_id"], s["start"], s["end"], s["label"]] for s in rec["spans"]]
        assert got == want, rec["url"]


def test_block_counts(extracted, golden_records):
    for rec in golden_records:
        r = extracted[(rec["url"], rec["warc_ts"])]
        assert r.n_blocks == rec["n_blocks"], rec["url"]
        assert r.n_content_blocks == rec["n_content_blocks"], rec["url"]


def test_span_offsets_consistent(extracted):
    """Spans must tile extracted_text exactly: text[start:end] is the block
    text and blocks are separated by exactly one SEP char."""
    from ocr_spark.spec import SEP

    for r in extracted.values():
        prev_end = None
        for s in r.spans:
            if prev_end is not None:
                assert s.start == prev_end + len(SEP)
            segment = r.extracted_text[s.start : s.end]
            assert SEP not in segment
            prev_end = s.end
        if r.spans:
            assert r.spans[-1].end == len(r.extracted_text)


# --- invariance and the staged tail (SURVEY.md §5.3) --------------------------
# Extraction output may not depend on partition counts or on the salted
# repartition path: the determinism precondition that makes the
# byte-identity gate hold on a real cluster, where partitioning is arbitrary.

N_PARTS = 8


def _canon(rows):
    out = {}
    for r in rows:
        key = (r.url, None if r.warc_ts is None else r.warc_ts.isoformat())
        spans = [(s.block_id, s.start, s.end, s.label) for s in r.spans]
        out[key] = (
            r.extracted_text, r.text_sha256, spans, r.n_blocks,
            r.n_content_blocks, r.part_id, r.lang,
        )
    return out


@pytest.fixture(scope="module")
def fused(spark, fixture_df):
    from ocr_spark.operators.extract import extract_pages

    return _canon(extract_pages(fixture_df, num_parts=N_PARTS).collect())


def test_parallelism_invariance(spark, fixture_df, fused):
    from ocr_spark.operators.extract import extract_pages

    for n in (1, 2, 17):
        got = _canon(
            extract_pages(fixture_df.repartition(n), num_parts=N_PARTS).collect()
        )
        assert got == fused, f"repartition({n}) changed output"


def test_salted_path_invariance(spark, fixture_df, fused):
    """Op 21: the skew-salted exchange must not change a single byte."""
    from ocr_spark.operators.extract import extract_pages, salted, with_part_id

    got = _canon(
        extract_pages(
            salted(with_part_id(fixture_df, N_PARTS), 16), num_parts=N_PARTS
        ).collect()
    )
    assert got == fused


def test_salted_balance_under_viral_url(spark):
    """The skew claim behind op 21, pinned without timing: on a corpus
    where HALF the rows are one identical url, a host-keyed repartition
    puts that half in one partition, while the salted layout bounds every
    partition near the mean (wall-clock evidence: BENCH/SKEW.md)."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.extract import salted, with_part_id
    from scripts.skew_bench import viral_pages

    pages = viral_pages(spark, 4000)
    parts = 16
    host = F.parse_url("url", F.lit("HOST"))

    def max_rows(df):
        return (
            df.groupBy(F.spark_partition_id().alias("p")).count()
            .agg(F.max("count")).collect()[0][0]
        )

    hot = max_rows(pages.repartition(parts, host))
    bal = max_rows(salted(with_part_id(pages, parts), parts))
    mean = 4000 / parts
    assert hot >= 2000          # the viral half serializes into one task
    assert bal < 3 * mean, bal  # salted: every task near the mean


def test_staged_tail_equals_fused(spark, fixture_df, fused):
    """``parse_pages`` → ``label_blocks`` → ``assemble`` reads the Arrow
    ``blocks`` column of a parsed frame and must finish every page exactly
    as the one-pass extraction does."""
    from ocr_spark.operators.extract import assemble, label_blocks, parse_pages

    labeled = label_blocks(parse_pages(fixture_df, num_parts=N_PARTS))
    assert _canon(assemble(labeled).collect()) == fused


def test_parse_pages_blocks_match_goldenref(spark, fixture_df):
    """Every field of every block ``parse_pages`` returns equals the frozen
    reference's, bbox included."""
    from ocr_spark.gen import fixture_pages
    from ocr_spark.goldenref import extract_document
    from ocr_spark.operators.extract import parse_pages

    want = {
        (p["url"], p["warc_ts"].isoformat()): extract_document(
            p["url"], p["html"], p["lang"]
        )
        for p in fixture_pages()
    }
    rows = parse_pages(fixture_df).collect()
    assert len(rows) == len(want)
    for r in rows:
        g = want[(r.url, r.warc_ts.isoformat())]
        assert r.kind == g["kind"], r.url
        got = [b.asDict(recursive=True) for b in r.blocks]
        assert got == g["blocks"], r.url


def _hop_columns(df) -> list[str]:
    """The output columns of the ``mapInArrow`` hop in ``df``'s plan."""
    found = []

    def walk(node):
        if node.nodeName() == "MapInArrow":
            out = node.output()
            found.append([out.apply(i).name() for i in range(out.size())])
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().analyzed())
    assert len(found) == 1, found
    return found[0]


def test_text_hop_equals_full_hop(spark, fixture_df):
    """``extract_pages`` and ``extract_pages_langid`` read the text hop,
    whose ``mapInArrow`` output has no ``links`` or ``meta`` column; row
    for row they equal the full hop's rows taken through
    ``select_extracted``. ``keep_meta`` keeps the full hop."""
    from ocr_spark.operators.extract import (
        extract_pages,
        extract_pages_langid,
        extract_rows,
        extract_text_rows,
        select_extracted,
    )

    def rows(df):
        return {
            (r.url, None if r.warc_ts is None else r.warc_ts.isoformat()):
            r.asDict(recursive=True)
            for r in df.collect()
        }

    text_cols = _hop_columns(extract_text_rows(fixture_df))
    assert "links" not in text_cols and "meta" not in text_cols
    assert _hop_columns(extract_rows(fixture_df))[-2:] == ["links", "meta"]
    for text, full in (
        (extract_pages(fixture_df), extract_rows(fixture_df)),
        (extract_pages_langid(fixture_df),
         extract_rows(fixture_df, langid=True)),
    ):
        assert _hop_columns(text) == text_cols
        got, want = rows(text), rows(select_extracted(full))
        assert len(got) == fixture_df.count()
        assert got == want
    full_cols = _hop_columns(extract_pages(fixture_df, keep_meta=True))
    assert full_cols[-2:] == ["links", "meta"]
