"""Resume/lineage/manifest tests (SURVEY.md §5.3 resume equivalence;
north_rule: "resumable from checkpoint with per-partition lineage + metrics").
"""

from __future__ import annotations

import json

import pytest

N_PARTS = 8


class _Kill(Exception):
    pass


def _rows_key(rows):
    return sorted((r.url, r.warc_ts.isoformat(), r.text_sha256) for r in rows)


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "extracted_tbl")


def test_full_run_and_lineage(spark, fixture_df, out_dir):
    from ocr_spark.operators.extract import extract_pages
    from ocr_spark.operators.runner import (
        Manifest, read_extracted, read_lineage, run_extract,
    )

    res = run_extract(spark, fixture_df, out_dir, run_id="r1",
                      num_parts=N_PARTS, parts_per_batch=3)
    assert res["parts_done_before"] == []
    assert res["parts_done_now"] == list(range(N_PARTS))

    direct = extract_pages(fixture_df, num_parts=N_PARTS).collect()
    written = read_extracted(spark, out_dir).collect()
    assert _rows_key(written) == _rows_key(direct)

    # manifest: every partition committed exactly once
    committed = Manifest(out_dir).completed_parts()
    assert sorted(committed) == list(range(N_PARTS))

    # lineage: one ok row per partition; totals match the output table
    lin = read_lineage(spark, out_dir).collect()
    assert sorted(r.part_id for r in lin) == list(range(N_PARTS))
    assert all(r.status == "ok" and r.run_id == "r1" for r in lin)
    assert sum(r.output_rows for r in lin) == len(written)
    total_bytes = sum(
        len(r.html) for r in fixture_df.collect() if r.html is not None
    )
    assert sum(r.bytes_in for r in lin) == total_bytes

    # output table carries no stats column
    assert "bytes_in" not in read_extracted(spark, out_dir).columns


def test_kill_and_resume_equivalence(spark, fixture_df, out_dir):
    from ocr_spark.operators.extract import extract_pages
    from ocr_spark.operators.runner import (
        Manifest, read_extracted, run_extract,
    )

    calls = []

    def killer(batch):
        calls.append(batch)
        if len(calls) == 1:
            raise _Kill()

    with pytest.raises(_Kill):
        run_extract(spark, fixture_df, out_dir, run_id="r1",
                    num_parts=N_PARTS, parts_per_batch=3, after_batch=killer)

    committed_mid = sorted(Manifest(out_dir).completed_parts())
    assert committed_mid == calls[0]  # exactly the first batch

    res = run_extract(spark, fixture_df, out_dir, run_id="r2",
                      num_parts=N_PARTS, parts_per_batch=3)
    # resume skipped the committed partitions
    assert res["parts_done_before"] == committed_mid
    assert set(res["parts_done_now"]).isdisjoint(committed_mid)

    direct = extract_pages(fixture_df, num_parts=N_PARTS).collect()
    assert _rows_key(read_extracted(spark, out_dir).collect()) == _rows_key(direct)

    # each part committed exactly once, by whichever run did it
    committed = Manifest(out_dir).completed_parts()
    assert sorted(committed) == list(range(N_PARTS))
    assert {committed[p]["run_id"] for p in committed_mid} == {"r1"}
    assert {committed[p]["run_id"]
            for p in committed if p not in committed_mid} == {"r2"}


def test_crash_between_write_and_commit_is_idempotent(spark, fixture_df, out_dir):
    """A partition whose data was written but whose manifest commit never
    happened must be redone WITHOUT duplicating rows (dynamic partition
    overwrite semantics)."""
    from ocr_spark.operators.extract import extract_pages
    from ocr_spark.operators.runner import (
        Manifest, read_extracted, read_lineage, run_extract,
    )

    run_extract(spark, fixture_df, out_dir, run_id="r1",
                num_parts=N_PARTS, parts_per_batch=N_PARTS)
    # simulate the crash window: data on disk, commit record lost
    manifest = Manifest(out_dir)
    victim = manifest.dir / "part-00003.json"
    victim.unlink()

    run_extract(spark, fixture_df, out_dir, run_id="r2",
                num_parts=N_PARTS, parts_per_batch=N_PARTS)
    direct = extract_pages(fixture_df, num_parts=N_PARTS).collect()
    assert _rows_key(read_extracted(spark, out_dir).collect()) == _rows_key(direct)
    rec = json.loads(victim.read_text())
    assert rec["run_id"] == "r2"

    # one ok lineage row per committed part: the redone part's lost
    # attempt leaves no row behind
    lin = read_lineage(spark, out_dir).where("status = 'ok'").collect()
    assert sorted(r.part_id for r in lin) == list(range(N_PARTS))
    assert [r.run_id for r in lin if r.part_id == 3] == ["r2"]


def test_failed_batch_writes_failed_lineage(spark, fixture_df, out_dir):
    """A batch whose action fails leaves status='failed' lineage rows and
    NO manifest commits, so the rerun redoes exactly those partitions."""
    import pathlib
    import shutil

    from ocr_spark.operators.runner import (
        Manifest, read_lineage, run_extract,
    )

    # a pages df whose files vanish before the action: the BATCH fails,
    # not the plan construction
    src = pathlib.Path(out_dir + "-input")
    fixture_df.write.parquet(str(src))
    broken = spark.read.parquet(str(src))
    for f in src.glob("*.parquet"):
        f.unlink()
    with pytest.raises(Exception):
        run_extract(spark, broken, out_dir, run_id="rf",
                    num_parts=N_PARTS, parts_per_batch=3)

    lin = read_lineage(spark, out_dir).collect()
    assert lin and all(r.status == "failed" and r.run_id == "rf" for r in lin)
    assert Manifest(out_dir).completed_parts() == {}

    # rerun with good input: everything recovers, ok rows land per part
    run_extract(spark, fixture_df, out_dir, run_id="rf2",
                num_parts=N_PARTS, parts_per_batch=N_PARTS)
    lin2 = read_lineage(spark, out_dir).collect()
    assert sorted(r.part_id for r in lin2 if r.status == "ok") == list(
        range(N_PARTS)
    )
    assert sorted(Manifest(out_dir).completed_parts()) == list(range(N_PARTS))


def test_failed_runs_keep_every_failed_row(spark, fixture_df, out_dir):
    """Two failed runs under ONE run_id (a staging failure, then a batch
    failure) both keep their failed rows: each failure is a new file under
    ``_manifest/``, never overwritten, and no lineage lives elsewhere."""
    import collections
    import pathlib

    from ocr_spark.operators.runner import (
        Manifest, read_lineage, run_extract,
    )

    src = pathlib.Path(out_dir + "-input")
    fixture_df.write.parquet(str(src))
    broken = spark.read.parquet(str(src))
    for f in src.glob("*.parquet"):
        f.unlink()
    for per_batch in (3, N_PARTS):  # multi-batch stages first; one batch not
        with pytest.raises(Exception):
            run_extract(spark, broken, out_dir, run_id="rf",
                        num_parts=N_PARTS, parts_per_batch=per_batch)

    lin = read_lineage(spark, out_dir).collect()
    assert all(r.status == "failed" and r.run_id == "rf" for r in lin)
    assert collections.Counter(r.part_id for r in lin) == {
        p: 2 for p in range(N_PARTS)
    }
    assert all(r.started_ts <= r.finished_ts for r in lin)
    assert Manifest(out_dir).completed_parts() == {}
    assert not (pathlib.Path(out_dir) / "_lineage").exists()


def test_part_id_independent_of_partitioning(spark, fixture_df):
    """part_id depends only on url — identical across any repartitioning, so
    a manifest written at N executors is valid at 4N (SURVEY §2 op 22)."""
    from ocr_spark.operators.extract import with_part_id

    a = {
        (r.url, r.warc_ts.isoformat()): r.part_id
        for r in with_part_id(fixture_df.repartition(2), N_PARTS).collect()
    }
    b = {
        (r.url, r.warc_ts.isoformat()): r.part_id
        for r in with_part_id(fixture_df.repartition(17), N_PARTS).collect()
    }
    assert a == b


def test_run_with_links_sink_single_parse(spark, fixture_df, out_dir):
    """links_location: both products from ONE parse per batch — link rows
    equal the standalone outlink operator, and the lineage input counts
    prove the parse did not run twice (a second parse would double the
    attempt-keyed accumulator totals)."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.extract import extract_outlinks
    from ocr_spark.operators.runner import (
        read_lineage, run_extract,
    )

    links_dir = f"{out_dir}/links"
    res = run_extract(spark, fixture_df, out_dir, run_id="rl",
                      num_parts=N_PARTS, parts_per_batch=3,
                      links_location=links_dir)
    assert res["parts_done_now"] == list(range(N_PARTS))

    def key(rows):
        return sorted(
            (r.url, r.warc_ts.isoformat(), r.link_id, r.href, r.anchor)
            for r in rows
        )

    written = spark.read.parquet(links_dir).collect()
    direct = extract_outlinks(fixture_df, num_parts=N_PARTS).collect()
    assert key(written) == key(direct)
    assert len(written) > 0

    # single-parse proof: summed lineage input_rows == input page count
    lin = read_lineage(spark, out_dir).filter(F.col("status") == "ok")
    total_in = lin.agg(F.sum("input_rows")).first()[0]
    assert total_in == fixture_df.count()

    # idempotent rerun: nothing left to do, links unchanged
    res2 = run_extract(spark, fixture_df, out_dir, run_id="rl2",
                       num_parts=N_PARTS, parts_per_batch=3,
                       links_location=links_dir)
    assert res2["parts_done_now"] == []
    assert key(spark.read.parquet(links_dir).collect()) == key(direct)


def test_run_with_meta_sink_single_parse(spark, fixture_df, out_dir):
    """meta_location (with links too): THREE products from ONE parse per
    batch — metadata rows equal the standalone extract_metadata operator,
    and the lineage input counts prove the parse still ran exactly once."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.extract import extract_metadata
    from ocr_spark.operators.runner import read_lineage, run_extract

    res = run_extract(spark, fixture_df, out_dir, run_id="rm",
                      num_parts=N_PARTS, parts_per_batch=3,
                      links_location=f"{out_dir}/links",
                      meta_location=f"{out_dir}/meta")
    assert res["parts_done_now"] == list(range(N_PARTS))

    def key(rows):
        return sorted(
            (r.url, r.warc_ts.isoformat(), r.title, r.description,
             r.canonical, r.og_title)
            for r in rows
        )

    written = spark.read.parquet(f"{out_dir}/meta").collect()
    direct = extract_metadata(fixture_df, num_parts=N_PARTS).collect()
    assert key(written) == key(direct)
    assert any(r.title for r in written)  # the corpus has real titles

    lin = read_lineage(spark, out_dir).filter(F.col("status") == "ok")
    assert lin.agg(F.sum("input_rows")).first()[0] == fixture_df.count()
