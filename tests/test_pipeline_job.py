"""End-to-end crawl->training-corpus composition (scripts/pipeline_job.py)
and the language-recovering extraction it depends on."""

from __future__ import annotations

import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "scripts"))


def test_extract_langid_recovers_untagged_pages(spark):
    """A stopword-rich German page with lang=NULL must extract the same
    bytes as the identical page tagged lang='de' — and the recovered tag
    must be 'de'. Without recovery the NULL-lang page scores against the
    EN list and extracts empty (also pinned, as the motivating bug)."""
    import pyspark.sql.functions as F

    from ocr_spark.operators.extract import extract_pages, extract_pages_langid

    de_text = (
        "der die das und ist nicht ein von mit sich auf werden hat dass "
        "der die das und ist nicht ein von mit sich auf werden hat dass"
    )
    html = f"<html><body><p>{de_text}</p></body></html>".encode()
    rows = [
        ("https://de.example/p", None, html, None, None),
        ("https://tagged.example/p", None, html, None, "de"),
    ]
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    pages = spark.createDataFrame(rows, schema)

    rec = {r.url: r for r in extract_pages_langid(pages).collect()}
    untagged = rec["https://de.example/p"]
    tagged = rec["https://tagged.example/p"]
    assert untagged.lang == "de"
    assert untagged.extracted_text == tagged.extracted_text != ""
    assert untagged.text_sha256 == tagged.text_sha256

    # the motivating failure: plain extraction with lang=NULL scores the
    # German paragraph against the EN list -> boilerplate -> empty
    plain = {r.url: r for r in extract_pages(pages).collect()}
    assert plain["https://de.example/p"].extracted_text == ""


def test_langid_extraction_keeps_tagged_rows_bit_identical(spark, fixture_df):
    """On the (fully tagged) golden fixture corpus, extract_pages_langid
    must be byte-identical to extract_pages: tagged rows bypass both the
    recovery and the density re-score."""
    from ocr_spark.operators.extract import extract_pages, extract_pages_langid

    a = {
        (r.url, str(r.warc_ts)): (r.extracted_text, r.text_sha256)
        for r in extract_pages(fixture_df).collect()
    }
    b = {
        (r.url, str(r.warc_ts)): (r.extracted_text, r.text_sha256)
        for r in extract_pages_langid(fixture_df).collect()
    }
    assert a == b


def test_pipeline_job_end_to_end(spark, tmp_path):
    """archive write -> ingest (round-trip digest) -> langid extraction ->
    funnel -> packing, all real, at small n."""
    from pipeline_job import run_pipeline_job

    report = run_pipeline_job(
        spark, str(tmp_path / "pipe"), n_pages=800, budget=256
    )
    assert report["ingest"]["roundtrip_ok"] is True
    f = report["corpus"]["funnel"]
    order = ["0_input", "1_train", "2_quality", "3_exact", "4_near",
             "5_clean", "6_sampled"]
    counts = [f[k] for k in order]
    assert counts[0] == 800
    assert all(a >= b for a, b in zip(counts, counts[1:])), f
    # language recovery keeps the multilingual corpus: the quality stage
    # must retain far more than the EN-only share (~62% of pages)
    assert f["2_quality"] >= 0.85 * f["1_train"], f
    assert report["kept_rows"] > 0
    assert report["kept_tokens"] > 0
    assert (tmp_path / "pipe" / "pipeline.json").exists()


def test_langid_extraction_stays_shuffle_free(spark, fixture_df):
    """Recovery + re-score run inside the parse's Python pass: the langid
    extraction plan must stay narrow (no Exchange) with exactly one
    MapInArrow hop, like the plain flagship."""
    import re

    from ocr_spark.operators.extract import extract_pages_langid

    plan = extract_pages_langid(fixture_df)._sc._jvm.PythonSQLUtils.explainString(
        extract_pages_langid(fixture_df)._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M)) == 1
    assert "BatchEvalPython" not in plan


def test_corpus_job_jsonl_export(spark, tmp_path):
    """--export-jsonl: packed corpus -> sharded .jsonl.gz with a read-back
    digest; the export carries exactly the packed rows."""
    import os

    from corpus_job import run_corpus_job

    report = run_corpus_job(
        spark, str(tmp_path / "c"), n_pages=600, budget=256,
        export_jsonl=True, export_shards=3,
    )
    exp = report["export"]
    assert exp is not None and exp["roundtrip_ok"] is True
    parts = [f for f in os.listdir(exp["path"]) if f.startswith("part-")]
    assert len(parts) == 3 and all(f.endswith(".json.gz") for f in parts)
    from ocr_spark.sources import textfmt
    from pyspark.sql.types import StructType

    packed = spark.read.parquet(report["out"])
    back = textfmt.read_jsonl(
        spark, exp["path"],
        StructType.fromJson(packed.select(
            "doc_id", "url", "warc_ts", "lang", "source", "n_words",
            "pack_shard", "seq_id", "text",
        ).schema.jsonValue()),
    )
    assert back.count() == report["kept_rows"]
