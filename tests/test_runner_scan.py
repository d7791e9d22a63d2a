"""Single-scan guarantee of the batch runner (VERDICT round-1 item 3).

part_id is derived (pmod(xxhash64(url))), so a per-batch filter on the raw
input can never push down — the round-1 runner re-scanned the full input once
per batch. The runner now stages the input partitioned by part_id once and
every batch prunes staged directories. The airtight proof used here: DELETE
the raw input right after the first batch commits — if any later batch still
referenced it, its action would fail on the missing files.
"""

from __future__ import annotations

import pathlib
import shutil

import pytest

from pyspark.sql import functions as F

N_PARTS = 8


def _write_pages(spark, path, n=300):
    from ocr_spark.gen import bench_pages

    bench_pages(spark, n).write.parquet(str(path))
    return spark.read.parquet(str(path))


def test_raw_input_read_once_across_batches(spark, tmp_path):
    from ocr_spark.operators.extract import extract_pages
    from ocr_spark.operators.runner import (
        Manifest, read_extracted, read_lineage, run_extract,
    )

    src = tmp_path / "pages"
    out = tmp_path / "out"
    pages = _write_pages(spark, src)
    expected = sorted(
        r.text_sha256 for r in extract_pages(pages, num_parts=N_PARTS).collect()
    )

    def nuke_raw_input(batch):
        if src.exists():
            shutil.rmtree(src)

    run_extract(spark, pages, str(out), run_id="scan1", num_parts=N_PARTS,
                parts_per_batch=2, after_batch=nuke_raw_input)

    assert not src.exists()  # deleted after batch 1 of 4
    assert sorted(Manifest(out).completed_parts()) == list(range(N_PARTS))
    got = sorted(r.text_sha256 for r in read_extracted(spark, str(out)).collect())
    assert got == expected

    # staged data is cleaned up once every partition committed
    assert not (out / "_staged").exists()

    # lineage input_rows comes from the parse-side accumulator and must
    # account for every input document exactly once across partitions
    lin = read_lineage(spark, str(out)).collect()
    assert sum(r.input_rows for r in lin) == 300
    assert all(r.input_rows == r.output_rows for r in lin)


def test_batch_scan_is_partition_pruned(spark, tmp_path):
    """The per-batch read of staged data must prune on part_id at the source
    (PartitionFilters), not post-filter a full scan."""
    from ocr_spark.operators.runner import stage_input

    src = tmp_path / "pages"
    out = tmp_path / "out"
    pages = _write_pages(spark, src, n=200)
    staged = stage_input(spark, pages, out, N_PARTS)
    sub = staged.where(F.col("part_id").isin([0, 1]))
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "part_id" in plan.split(
        "PartitionFilters", 1
    )[1][:200], plan

    # staging is reused, not redone: marker present, second call cheap
    assert (out / "_staged" / "_STAGING_COMPLETE").exists()
    again = stage_input(spark, pages, out, N_PARTS)
    assert again.count() == 200


def test_resume_reuses_staging_without_raw_input(spark, tmp_path):
    """A killed multi-batch run resumes from the staged layout alone."""
    from ocr_spark.operators.extract import extract_pages
    from ocr_spark.operators.runner import (
        Manifest, read_extracted, run_extract,
    )

    src = tmp_path / "pages"
    out = tmp_path / "out"
    pages = _write_pages(spark, src)
    expected = sorted(
        r.text_sha256 for r in extract_pages(pages, num_parts=N_PARTS).collect()
    )

    class _Kill(Exception):
        pass

    def killer(batch):
        raise _Kill()

    with pytest.raises(_Kill):
        run_extract(spark, pages, str(out), run_id="r1", num_parts=N_PARTS,
                    parts_per_batch=2, after_batch=killer)
    done = sorted(Manifest(out).completed_parts())
    assert len(done) == 2

    # raw input gone; the resumed run must finish from _staged alone
    shutil.rmtree(src)
    res = run_extract(spark, pages, str(out), run_id="r2", num_parts=N_PARTS,
                      parts_per_batch=2)
    assert res["parts_done_before"] == done
    got = sorted(r.text_sha256 for r in read_extracted(spark, str(out)).collect())
    assert got == expected


def test_staging_marker_validates_num_parts_and_input(spark, tmp_path):
    """A resumed run with a different num_parts (part_ids remapped) or a
    changed input (immutability contract) must refuse the stale staged
    layout instead of silently reusing it (ADVICE r2)."""
    from ocr_spark.operators.runner import Manifest, run_extract

    src = tmp_path / "pages"
    out = tmp_path / "out"
    pages = _write_pages(spark, src)

    class _Kill(Exception):
        pass

    def killer(batch):
        raise _Kill()

    with pytest.raises(_Kill):
        run_extract(spark, pages, str(out), run_id="r1", num_parts=N_PARTS,
                    parts_per_batch=2, after_batch=killer)
    assert len(Manifest(out).completed_parts()) == 2

    # same staged layout, different num_parts -> hard error
    with pytest.raises(ValueError, match="num_parts"):
        run_extract(spark, pages, str(out), run_id="r2",
                    num_parts=N_PARTS * 2, parts_per_batch=2)

    # same num_parts, different input files -> hard error
    src2 = tmp_path / "pages2"
    other = _write_pages(spark, src2, n=120)
    with pytest.raises(ValueError, match="fingerprint"):
        run_extract(spark, other, str(out), run_id="r3", num_parts=N_PARTS,
                    parts_per_batch=2)

    # the honest resume still works
    res = run_extract(spark, pages, str(out), run_id="r4", num_parts=N_PARTS,
                      parts_per_batch=2)
    assert len(res["parts_done_now"]) == N_PARTS - 2


def test_unparseable_staging_marker_raises(spark, tmp_path):
    """A staging marker that does not parse says nothing about the staged
    layout it guards, so a resumed run raises instead of reusing it."""
    import json

    from ocr_spark.operators.runner import Manifest, run_extract

    src = tmp_path / "pages"
    out = tmp_path / "out"
    pages = _write_pages(spark, src, n=120)

    class _Kill(Exception):
        pass

    def killer(batch):
        raise _Kill()

    with pytest.raises(_Kill):
        run_extract(spark, pages, str(out), run_id="r1", num_parts=N_PARTS,
                    parts_per_batch=2, after_batch=killer)
    (out / "_staged" / "_STAGING_COMPLETE").write_text("ok")
    with pytest.raises(json.JSONDecodeError):
        run_extract(spark, pages, str(out), run_id="r2", num_parts=N_PARTS,
                    parts_per_batch=2)
    assert len(Manifest(out).completed_parts()) == 2


def test_data_location_override(spark, tmp_path):
    """run_extract(data_location=...) sends the DATA rows through the table
    layer to a separate location while
    manifests/lineage stay under out_dir; resume still works."""
    from ocr_spark.operators.extract import extract_pages
    from ocr_spark.operators.runner import Manifest, read_lineage, run_extract

    src = tmp_path / "pages"
    out = tmp_path / "out"
    data = tmp_path / "elsewhere" / "extracted"
    pages = _write_pages(spark, src)
    expected = sorted(
        r.text_sha256 for r in extract_pages(pages, num_parts=N_PARTS).collect()
    )

    res = run_extract(spark, pages, str(out), run_id="loc1",
                      num_parts=N_PARTS, parts_per_batch=3,
                      data_location=str(data))
    assert len(res["parts_done_now"]) == N_PARTS
    assert sorted(Manifest(out).completed_parts()) == list(range(N_PARTS))
    assert not (out / "data").exists()  # nothing written to the default spot
    got = sorted(
        r.text_sha256 for r in spark.read.parquet(str(data)).collect()
    )
    assert got == expected
    # lineage/manifest live under out_dir as before
    lin = read_lineage(spark, str(out)).collect()
    assert sorted(r.part_id for r in lin) == list(range(N_PARTS))
    assert sum(r.output_rows for r in lin) == len(expected)

    # a rerun over the same out_dir is a no-op resume
    res2 = run_extract(spark, pages, str(out), run_id="loc2",
                       num_parts=N_PARTS, parts_per_batch=3,
                       data_location=str(data))
    assert res2["parts_done_now"] == []


def _jobs_of(spark, group, fn) -> int:
    """Spark jobs that ``fn()`` starts, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_batch_shuffles_rows_once(spark, fixture_df, tmp_path):
    """A batch repartitions its finished rows once, before the persist: the
    links and meta sinks add one narrow write job each (plus the one job
    that fills the batch's cache), not an exchange of their own, and no
    ``_lineage`` directory exists. The text sink alone takes one write job
    and the read-back two, with no schema-inference job. Column pruning
    keeps links and meta out of a full hop's exchange (the text sink alone
    reads the text hop, which has neither)."""
    from ocr_spark.operators.extract import extract_rows, select_extracted
    from ocr_spark.operators.runner import read_lineage, run_extract

    def run(out, sides):
        kw = {"links_location": str(out / "links"),
              "meta_location": str(out / "meta")} if sides else {}
        return lambda: run_extract(spark, fixture_df, str(out), run_id="j",
                                   num_parts=4, parts_per_batch=4, **kw)

    text = _jobs_of(spark, "runner-text", run(tmp_path / "t", False))
    three = _jobs_of(spark, "runner-three", run(tmp_path / "a", True))
    # the text write, then the read-back's two jobs over the schema the
    # sink wrote: no schema-inference job of its own
    assert text == 4, text
    assert three - text == 3, (text, three)
    for out in (tmp_path / "t", tmp_path / "a"):
        assert not (out / "_lineage").exists()
        assert len(read_lineage(spark, str(out)).collect()) == 4
    for sink in ("data", "links", "meta"):  # one file per part per sink
        files = list((tmp_path / "a" / sink).glob("part_id=*/*.parquet"))
        assert len(files) == 4, (sink, files)

    rows = extract_rows(fixture_df, num_parts=4).repartition(4, "part_id")
    plan = select_extracted(rows, stats=True)._jdf.queryExecution()
    found = []

    def walk(node):
        if node.nodeName() == "RepartitionByExpression":
            found.append(node.child().output().toString())
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(plan.optimizedPlan())
    assert len(found) == 1 and "part_id" in found[0], found
    assert "links" not in found[0] and "meta" not in found[0], found


def test_input_counts_dedup_attempts():
    """Attempt-tagged accumulator contributions: one attempt kept per
    (stage, partition), so retried/speculative duplicates never inflate
    lineage input_rows (ADVICE r2)."""
    from ocr_spark.operators.runner import _dedup_input_counts

    acc = {
        (5, 0, 0): {1: 10, 2: 3},   # original attempt
        (5, 0, 1): {1: 10, 2: 3},   # speculative duplicate: must be dropped
        (5, 1, 0): {1: 4},
        (6, 0, 0): {3: 7},          # a different stage counts separately
    }
    assert _dedup_input_counts(acc) == {1: 14, 2: 3, 3: 7}
    assert _dedup_input_counts({}) == {}
