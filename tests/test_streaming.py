"""Structured Streaming tests (SURVEY.md §2 ops 50-56) — deterministic via
``trigger(availableNow=True)`` drains.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from tests.conftest import collect_then_uncache


@pytest.fixture()
def pages_dir(spark, fixture_df, tmp_path):
    d = str(tmp_path / "pages_in")
    fixture_df.repartition(2).write.parquet(d)
    return d


def _drain(writer):
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def test_incremental_extract_end_to_end(spark, fixture_df, pages_dir,
                                        tmp_path, golden_records):
    """Ops 50+51+55+56 composed with the batch DAG: output matches goldens
    per url; recrawls within the watermark are dropped."""
    from ocr_spark.streaming.incremental import incremental_extract

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    writer, committer = incremental_extract(spark, pages_dir, out, ckpt)
    _drain(writer)

    rows = spark.read.parquet(f"{out}/data").collect()
    n_urls = fixture_df.select("url").distinct().count()
    assert len(rows) == n_urls  # 5 recrawls deduplicated

    golden_by_url = {g["url"]: g for g in golden_records}
    for r in rows:
        assert r.text_sha256 == golden_by_url[r.url]["text_sha256"], r.url
    assert committer.committed()  # stream manifest written

    # restart with no new files: no new batches, no new rows
    writer2, _ = incremental_extract(spark, pages_dir, out, ckpt)
    _drain(writer2)
    assert spark.read.parquet(f"{out}/data").count() == n_urls


def test_foreachbatch_replay_is_idempotent(spark, fixture_df, tmp_path):
    """Op 56 contract: the same micro-batch id delivered twice commits once."""
    from ocr_spark.streaming.incremental import _BatchCommitter

    out = str(tmp_path / "out")
    committer = _BatchCommitter(out, run_id="r1")
    small = fixture_df.limit(5).select("url", "lang")
    committer(small, 7)
    committer(small, 7)  # replay
    assert spark.read.parquet(f"{out}/data").count() == 5
    assert committer.committed() == [7]
    rec = json.loads(committer.manifest.path(7).read_text())
    assert rec["rows"] == 5


def test_crash_between_write_and_commit_does_not_duplicate(spark, fixture_df,
                                                           tmp_path):
    """The write-then-crash window: data written, manifest record lost. The
    replayed batch must REPLACE the orphaned files (batch-scoped overwrite),
    not append a second copy."""
    from ocr_spark.streaming.incremental import _BatchCommitter

    out = str(tmp_path / "out")
    committer = _BatchCommitter(out, run_id="r1")
    small = fixture_df.limit(5).select("url", "lang")
    committer(small, 3)
    # simulate the crash: the data landed but the commit record vanished
    committer.manifest.path(3).unlink()
    committer(small, 3)  # replay of the same micro-batch
    assert spark.read.parquet(f"{out}/data").count() == 5
    assert committer.committed() == [3]


def test_readback_failure_leaves_batch_uncommitted(spark, fixture_df,
                                                   tmp_path, monkeypatch):
    """A read-back error after the batch write must surface and leave the
    batch uncommitted; committing it anyway records a wrong row count for
    data that was written. The replay then commits the true count once."""
    from pyspark.sql.readwriter import DataFrameReader

    from ocr_spark.streaming.incremental import _BatchCommitter

    out = str(tmp_path / "out")
    committer = _BatchCommitter(out, run_id="r1")
    small = fixture_df.limit(5).select("url", "lang")

    def failing_read(self, *paths, **options):
        raise OSError("injected read-back failure")

    with monkeypatch.context() as m:
        m.setattr(DataFrameReader, "parquet", failing_read)
        with pytest.raises(OSError, match="injected"):
            committer(small, 4)
    assert committer.committed() == []

    committer(small, 4)  # the replay of the failed micro-batch
    committer(small, 4)  # a replay of the committed one
    assert committer.committed() == [4]
    assert json.loads(committer.manifest.path(4).read_text())["rows"] == 5
    assert spark.read.parquet(f"{out}/data").count() == 5


def test_committer_evaluates_batch_once(spark, tmp_path):
    """The micro-batch plan must execute exactly once per commit (the write);
    the manifest row count comes from read-back, not a second evaluation."""
    import pyarrow as pa

    from ocr_spark.streaming.incremental import _BatchCommitter

    acc = spark.sparkContext.accumulator(0)

    def counting(batches):
        for b in batches:
            acc.add(b.num_rows)
            yield b

    df = spark.range(100).selectExpr("id", "CAST(id AS STRING) AS s")
    instrumented = df.mapInArrow(counting, "id long, s string")
    committer = _BatchCommitter(str(tmp_path / "out"), run_id="r1")
    committer(instrumented, 0)
    assert acc.value == 100  # not 200: plan ran once
    rec = json.loads(committer.manifest.path(0).read_text())
    assert rec["rows"] == 100


def test_tumbling_counts_match_batch(spark, fixture_df, pages_dir):
    """Op 52: streaming tumbling counts (complete mode) == batch window agg."""
    from ocr_spark.streaming.incremental import (
        ingest_counts_tumbling, stream_pages,
    )
    from pyspark.sql import functions as F

    src = stream_pages(spark, pages_dir)
    _drain(
        ingest_counts_tumbling(src, "30 minutes")
        .writeStream.format("memory").queryName("tumb")
        .outputMode("complete")
    )
    got = {
        (r.win_start.isoformat(), r.win_end.isoformat()): r.n_docs
        for r in spark.table("tumb").collect()
    }
    want = {
        (r["win"].start.isoformat(), r["win"].end.isoformat()): r["n"]
        for r in fixture_df.groupBy(F.window("warc_ts", "30 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_session_windows_match_batch(spark, fixture_df, pages_dir):
    """Op 54: per-host session windows == the batch session_window agg."""
    from ocr_spark.streaming.incremental import crawl_sessions, stream_pages
    from pyspark.sql import functions as F

    src = stream_pages(spark, pages_dir)
    _drain(
        crawl_sessions(src, "30 minutes")
        .writeStream.format("memory").queryName("sess")
        .outputMode("complete")
    )
    got = sorted(
        (r.host, r.session_start.isoformat(), r.session_end.isoformat(), r.n_docs)
        for r in spark.table("sess").collect()
    )
    want = sorted(
        (
            r["host"], r["win"].start.isoformat(), r["win"].end.isoformat(),
            r["n"],
        )
        for r in fixture_df.groupBy(
            F.session_window("warc_ts", "30 minutes").alias("win"),
            F.parse_url("url", F.lit("HOST")).alias("host"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got == want


def test_compact_stream_output(spark, fixture_df, tmp_path):
    """Small-file compaction of the batch_id=N sink layout: same rows, far
    fewer directories, replay records still honored, repeatable."""
    from ocr_spark.streaming.incremental import (
        _BatchCommitter, compact_stream_output,
    )

    out = str(tmp_path / "out")
    committer = _BatchCommitter(out, run_id="r1")
    small = fixture_df.select("url", "lang")
    for bid in range(4):
        committer(small.filter(fixture_df.url.substr(-1, 1) == str(bid)), bid)
    n_before = spark.read.parquet(f"{out}/data").count()
    assert n_before > 0

    res = compact_stream_output(spark, out, partitions=2)
    assert res["compacted_batches"] == 4
    assert res["rows"] == n_before  # the compacted slice, not the whole dir
    assert res["rows_total"] == n_before
    data = tmp_path / "out" / "data"
    assert [p.name for p in data.glob("batch_id=*")] == ["batch_id=-1"]
    assert spark.read.parquet(str(data)).count() == n_before

    # a replayed pre-compaction micro-batch is still short-circuited
    committer(small, 2)
    assert spark.read.parquet(str(data)).count() == n_before

    # a NEW batch after compaction, then a second compaction folds it in
    committer(small.limit(3), 9)
    res2 = compact_stream_output(spark, out, partitions=2)
    assert res2["compacted_batches"] == 1
    assert res2["rows"] == 3  # only the freshly folded slice
    assert res2["rows_total"] == n_before + 3
    assert spark.read.parquet(str(data)).count() == n_before + 3
    assert compact_stream_output(spark, out)["compacted_batches"] == 0


def test_compact_crash_windows(spark, fixture_df, tmp_path):
    """Every interruption point of the compaction protocol either rolls
    back (incomplete stage) or rolls forward (complete stage), with no row
    loss and no double-fold on rerun."""
    import os
    import shutil

    from ocr_spark.streaming.incremental import (
        _BatchCommitter, _COMPACT_META, _COMPACT_NEXT, _COMPACT_OLD,
        compact_stream_output,
    )

    out = str(tmp_path / "out")
    data = tmp_path / "out" / "data"
    committer = _BatchCommitter(out, run_id="r1")
    small = fixture_df.select("url", "lang")
    for bid in range(3):
        committer(small.filter(fixture_df.url.substr(-1, 1) == str(bid)), bid)
    n = spark.read.parquet(str(data)).count()
    assert n > 0

    # window 1: crash mid-stage-write (next exists, NO meta) -> rolled back,
    # original batch dirs untouched, rerun compacts normally
    nxt = tmp_path / "out" / _COMPACT_NEXT
    nxt.mkdir()
    (nxt / "part-00000.parquet").write_bytes(b"torn write")
    res = compact_stream_output(spark, out, partitions=2)
    assert res["compacted_batches"] == 3 and res["rows_total"] == n
    assert spark.read.parquet(str(data)).count() == n

    # window 2: crash AFTER commit rename but BEFORE batch-dir cleanup —
    # simulate by re-creating a covered batch dir; a plain rerun must drop
    # it (it is listed in the committed generation's meta), never re-fold it
    committer(small.limit(5), 7)  # new batch, folded by a second compaction
    res2 = compact_stream_output(spark, out, partitions=2)
    assert res2["rows_total"] == n + 5
    committer(small.limit(5), 7)  # "leftover" dir for an already-covered id
    res3 = compact_stream_output(spark, out, partitions=2)
    assert res3["compacted_batches"] == 0  # recovery removed it pre-fold
    assert spark.read.parquet(str(data)).count() == n + 5

    # window 3: crash between target->old and next->target (target absent,
    # old + complete next present) -> recovery installs next, drops old
    target = data / "batch_id=-1"
    committer(small.limit(2), 11)
    batch_dir = data / "batch_id=11"
    merged = spark.read.parquet(str(target)).unionByName(
        spark.read.parquet(str(batch_dir))
    )
    merged.write.mode("overwrite").parquet(str(nxt))
    (nxt / _COMPACT_META).write_text('{"covered": [11], "rows": 2}')
    os.rename(target, tmp_path / "out" / _COMPACT_OLD)
    res4 = compact_stream_output(spark, out, partitions=2)
    assert res4["compacted_batches"] == 0  # nothing left after roll-forward
    assert not (tmp_path / "out" / _COMPACT_OLD).exists()
    assert not batch_dir.exists()
    assert spark.read.parquet(str(data)).count() == n + 7


def test_stateful_host_counts_survive_restart(spark, fixture_df, tmp_path):
    """applyInPandasWithState: per-host running totals accumulate across
    micro-batches AND across a restart from the checkpoint (the state store
    carries the counter), and the final totals equal the batch groupBy."""
    from pyspark.sql import functions as F

    from ocr_spark.streaming.incremental import host_running_counts
    from ocr_spark.schemas import PAGES_SCHEMA

    d = tmp_path / "state_in"
    d.mkdir()
    sink = str(tmp_path / "state_out")
    ckpt = str(tmp_path / "state_ckpt")

    half = fixture_df.limit(40)
    rest = fixture_df.subtract(half)

    def commit(bdf, bid):
        # emission log: one row per (host, batch) — append is the right
        # semantic for a monitor feed; a file sink can't take update mode
        bdf.write.mode("append").parquet(sink)

    def run():
        src = spark.readStream.schema(PAGES_SCHEMA).parquet(str(d / "*"))
        _drain(
            host_running_counts(src)
            .writeStream.foreachBatch(commit)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
        )

    half.coalesce(1).write.parquet(str(d / "f1"))
    run()
    rest.coalesce(1).write.parquet(str(d / "f2"))
    run()  # restart: state restored from the checkpoint

    out = spark.read.parquet(sink)
    # the LAST emitted total per host must equal the batch ground truth
    finals = {
        r.host: r.n_docs_total
        for r in out.orderBy("n_docs_total").collect()
    }
    want = {
        r.host: r.n
        for r in fixture_df.groupBy(
            F.parse_url("url", F.lit("HOST")).alias("host")
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert finals == want
    # batch deltas per host sum to the same totals (no double counting)
    sums = {
        r.host: r.s
        for r in out.groupBy("host").agg(
            F.sum("n_docs_batch").alias("s")
        ).collect()
    }
    assert sums == want


def test_watermark_drops_late_rows(spark, tmp_path):
    """Op 51: once the watermark has passed a window and its state was
    evicted (the guaranteed part of watermark semantics), a late row for
    that window is dropped instead of resurrecting it."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ocr_spark.schemas import PAGES_SCHEMA

    base = dt.datetime(2024, 1, 1)

    def page(i, minutes):
        return {
            "url": f"https://w.example.com/{i}",
            "warc_ts": base + dt.timedelta(minutes=minutes),
            "html": b"<p>x</p>", "text": None, "lang": "en",
        }

    d = tmp_path / "late_in"
    d.mkdir()
    sink = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")

    def run():
        src = spark.readStream.schema(PAGES_SCHEMA).parquet(str(d / "*"))
        agg = (
            src.withWatermark("warc_ts", "10 minutes")
            .groupBy(F.window("warc_ts", "10 minutes").alias("win"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(F.col("win.start").alias("win_start"), "n_docs")
        )
        _drain(
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )

    # run 1: the 00:00-00:10 window fills with 2 rows; the minute-120 row
    # advances the watermark to 01:50, so the drained run emits the window
    # (n=2) and evicts its state into the checkpoint
    spark.createDataFrame(
        [page(0, 0), page(1, 5), page(2, 120)], schema=PAGES_SCHEMA
    ).coalesce(1).write.parquet(str(d / "f1"))
    run()
    # run 2 restarts from the checkpoint (watermark restored at 01:50) and
    # sees one late minute-7 row: the guaranteed drop — the emitted window
    # must be neither re-emitted nor recounted
    time.sleep(1.1)
    spark.createDataFrame([page(3, 7)], schema=PAGES_SCHEMA).coalesce(
        1
    ).write.parquet(str(d / "f2"))
    run()

    emitted = {
        r.win_start.isoformat(): r.n_docs
        for r in spark.read.parquet(sink).collect()
    }
    assert emitted == {"2024-01-01T00:00:00": 2}


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _uniq_text(seed: str, n: int = 60) -> str:
    # every 3-gram contains a seed-unique word: zero cross-doc shingle overlap
    return " ".join(f"{seed}w{i}" for i in range(n))


def test_incremental_minhash_dedup(spark, tmp_path):
    """Streaming near-dup suppression: within-batch star-pass + cross-batch
    band-key store. Exact recrawls across waves are suppressed; unique docs
    survive; kept docs are globally band-key-disjoint; replay exactly-once."""
    from pyspark.sql import functions as F

    from ocr_spark.streaming.incremental import incremental_dedup_minhash

    src = tmp_path / "docs_in"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    a, c = _uniq_text("a"), _uniq_text("c")
    # wave 1: A unique, B exact copy of A (within-batch dup), C unique
    _mk_docs(spark, [(1, a), (2, a), (3, c)]).coalesce(1).write.parquet(
        str(src / "w1")
    )

    def run():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(src / "*")
        )
        writer, committer = incremental_dedup_minhash(stream, out, ckpt)
        _drain(writer)
        return committer

    run()
    kept = {r.doc_id for r in spark.read.parquet(f"{out}/data").collect()}
    assert kept == {1, 3}  # B suppressed within the batch

    # wave 2: D exact copy of A (cross-batch dup), E unique
    _mk_docs(spark, [(4, a), (5, _uniq_text("e"))]).coalesce(1).write.parquet(
        str(src / "w2")
    )
    committer = run()
    kept = {r.doc_id for r in spark.read.parquet(f"{out}/data").collect()}
    assert kept == {1, 3, 5}  # D suppressed against the store

    # global invariant: kept docs are pairwise band-key-disjoint — every
    # band key in the sigstore is owned by exactly one kept doc
    store = spark.read.parquet(f"{out}/sigstore")
    dup_keys = (
        store.groupBy("bi", "band")
        .agg(F.count_distinct("doc_id").alias("n"))
        .filter("n > 1")
        .count()
    )
    assert dup_keys == 0
    assert {r.doc_id for r in store.select("doc_id").collect()} == kept

    # replay exactly-once: a committed batch_id short-circuits
    docs_b2 = _mk_docs(spark, [(4, a), (5, _uniq_text("e"))])
    last = max(committer.committed())
    committer(docs_b2, last)  # no-op: record exists
    assert {
        r.doc_id for r in spark.read.parquet(f"{out}/data").collect()
    } == {1, 3, 5}

    # crash window: record lost after the writes -> recommit recomputes the
    # identical kept set (store read excludes the current batch_id)
    committer.manifest.path(last).unlink()
    committer(docs_b2, last)
    assert {
        r.doc_id for r in spark.read.parquet(f"{out}/data").collect()
    } == {1, 3, 5}
    assert max(committer.committed()) == last


def test_incremental_minhash_matches_batch_on_simple_clusters(spark, tmp_path):
    """With exact-dup clusters (no near-dup chains) the streaming kept set
    equals the batch near_keepers decision over the union, regardless of
    how the waves split the clusters."""
    from ocr_spark.operators.corpus import near_keepers
    from ocr_spark.streaming.incremental import incremental_dedup_minhash

    texts = {i: _uniq_text(f"s{i % 4}") for i in range(12)}  # 4 clusters of 3
    rows = [(i, texts[i]) for i in range(12)]
    src = tmp_path / "docs_in"
    src.mkdir()
    _mk_docs(spark, rows[:5]).coalesce(1).write.parquet(str(src / "w1"))
    _mk_docs(spark, rows[5:]).coalesce(1).write.parquet(str(src / "w2"))

    out = str(tmp_path / "out")
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src / "*")
    )
    writer, _ = incremental_dedup_minhash(
        stream, out, str(tmp_path / "ckpt")
    )
    _drain(writer)
    stream_kept = {
        r.doc_id for r in spark.read.parquet(f"{out}/data").collect()
    }
    batch_kept = {
        r.doc_id
        for r in near_keepers(_mk_docs(spark, rows)).select("doc_id").collect()
    }
    assert stream_kept == batch_kept == {0, 1, 2, 3}


def test_incremental_full_cc_chain_across_batches(spark, tmp_path):
    """Round-4 cross-batch CC mode: a near-dup chain A~B~C arriving in
    THREE micro-batches (B a partial near-dup of both A and C, where A and
    C never share a band) keeps exactly one doc — equal to batch
    near_keepers(full_cc=True) over the union. Star mode (the default) is
    asserted to under-merge on the same input, pinning that the divergence
    the mode closes is real."""
    from ocr_spark.operators.corpus import near_keepers
    from ocr_spark.queries_textml import minhash_band_keys, minhash_signatures
    from ocr_spark.streaming.incremental import incremental_dedup_minhash

    # 16 perms / 16 single-row bands: a band matches iff ONE minhash row
    # agrees, so a half-A-half-C mixture doc reliably bridges both sides
    NP, NB = 16, 16
    a_words = [f"ccha{i}" for i in range(60)]
    c_words = [f"cchc{i}" for i in range(60)]
    a, c = " ".join(a_words), " ".join(c_words)
    b = " ".join(a_words[:30] + c_words[:30])
    rows = [(1, a), (2, b), (3, c)]

    # premise: the chain is A~B~C with A,C band-disjoint (deterministic
    # hashes — these assertions pin the fixture, they can never flake)
    def keys(txt):
        df = minhash_band_keys(
            minhash_signatures(
                _mk_docs(spark, [(0, txt)]), num_perms=NP
            ),
            NB,
            NP // NB,
        )
        return {(r.bi, r.band) for r in df.collect()}

    ka, kb, kc = keys(a), keys(b), keys(c)
    assert ka & kb and kb & kc and not (ka & kc)

    def run_stream(full_cc, sub):
        src = tmp_path / f"in_{sub}"
        out = str(tmp_path / f"out_{sub}")
        ckpt = str(tmp_path / f"ckpt_{sub}")
        src.mkdir()
        for i, row in enumerate(rows):
            _mk_docs(spark, [row]).coalesce(1).write.parquet(
                str(src / f"w{i}")
            )
            stream = spark.readStream.schema(
                "doc_id long, text string"
            ).parquet(str(src / "*"))
            writer, _ = incremental_dedup_minhash(
                stream, out, ckpt, num_perms=NP, bands=NB, full_cc=full_cc
            )
            _drain(writer)
        return {
            r.doc_id for r in spark.read.parquet(f"{out}/data").collect()
        }

    batch_kept = {
        r.doc_id
        for r in collect_then_uncache(near_keepers(
            _mk_docs(spark, rows), num_perms=NP, bands=NB, full_cc=True
        ).select("doc_id"))
    }
    assert batch_kept == {1}
    assert run_stream(True, "cc") == batch_kept
    # the default star/kept-only store keeps C too: the chain passes
    # through dropped B, whose keys the star store never records
    assert run_stream(False, "star") == {1, 3}


def test_incremental_hostlinks_matches_batch(spark, tmp_path):
    """Streaming link-graph maintenance: totals over the drained stream
    equal the one-shot batch aggregation; restart adds nothing."""
    from pyspark.sql import functions as F

    from ocr_spark.gen import web_pages
    from ocr_spark.operators.extract import extract_outlinks
    from ocr_spark.queries_webgraph import link_host_expr
    from ocr_spark.streaming.incremental import (
        hostlinks_totals,
        incremental_hostlinks,
    )

    pages = web_pages(spark, 300)
    src = str(tmp_path / "pages_in")
    # several files -> several micro-batch candidates
    pages.repartition(4).write.parquet(src)

    out = str(tmp_path / "edges_out")
    ckpt = str(tmp_path / "ckpt")
    writer, committer = incremental_hostlinks(spark, src, out, ckpt)
    _drain(writer)
    assert committer.committed()

    got = {
        (r.src_host, r.dst_host): r.n_links
        for r in hostlinks_totals(spark, out).collect()
    }
    src_host = F.lower(
        F.regexp_extract(
            F.col("url"),
            r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#:]*)", 1,
        )
    )
    want = {
        (r.src_host, r.dst_host): r.n
        for r in extract_outlinks(spark.read.parquet(src))
        .select(
            src_host.alias("src_host"),
            link_host_expr(F.col("href"), src_host).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .collect()
    }
    assert got == want

    # restart with no new files: totals unchanged
    writer2, _ = incremental_hostlinks(spark, src, out, ckpt)
    _drain(writer2)
    got2 = {
        (r.src_host, r.dst_host): r.n_links
        for r in hostlinks_totals(spark, out).collect()
    }
    assert got2 == want


def test_incremental_extract_with_meta(spark, fixture_df, pages_dir,
                                       tmp_path, golden_records):
    """meta=True: the streamed rows carry the SPEC §6 metadata struct from
    the same parse, byte-equal to the goldens per url; the text columns are
    unchanged."""
    from ocr_spark.streaming.incremental import incremental_extract

    out = str(tmp_path / "outm")
    ckpt = str(tmp_path / "ckptm")
    writer, _ = incremental_extract(spark, pages_dir, out, ckpt, meta=True)
    _drain(writer)

    rows = spark.read.parquet(f"{out}/data").collect()
    assert len(rows) == fixture_df.select("url").distinct().count()
    golden_by_url = {g["url"]: g for g in golden_records}
    n_titled = 0
    for r in rows:
        g = golden_by_url[r.url]
        assert r.text_sha256 == g["text_sha256"], r.url
        m = r.meta.asDict()
        assert m == g["meta"], r.url
        n_titled += bool(m["title"])
    assert n_titled > 50  # the corpus has real titles


# --- streaming joins (round 4 late) ------------------------------------------

def _mk_ts(minute):
    import datetime

    return datetime.datetime(2024, 3, 1, 12, minute, 0)


def test_interval_join_matches_across_micro_batches(spark, tmp_path):
    """Stream-stream interval join: a click arriving in micro-batch N must
    join a view buffered in batch N-1's state store. Clicks arrive as TWO
    files with maxFilesPerTrigger=1; the kept pair set equals an
    independent pure-Python nested-loop interval join, whichever file the
    source picks first."""
    from pyspark.sql import functions as F

    from ocr_spark.streaming.incremental import (
        _BatchCommitter,
        stream_interval_join,
    )

    views = [  # (user_id, view_id, minute)
        (1, 100, 0), (1, 101, 30), (2, 200, 5), (3, 300, 10),
    ]
    clicks_a = [  # (user_id, click_id, minute) — first file
        (1, 900, 4), (2, 901, 5), (3, 902, 40),
    ]
    clicks_b = [  # second file: 903/905 must match batch-0 view state
        (1, 903, 9), (1, 904, 50), (1, 905, 33), (2, 906, 25),
    ]
    gap_min = 10

    # independent reference: nested-loop interval join
    expected = set()
    for vu, vid, vm in views:
        for cu, cid, cm in clicks_a + clicks_b:
            if vu == cu and vm <= cm <= vm + gap_min:
                expected.add((vu, vid, cid, (cm - vm) * 60000))
    assert len(expected) == 4  # incl. 2 cross-file matches (903, 905)

    v_dir = str(tmp_path / "views")
    c_dir = str(tmp_path / "clicks")
    spark.createDataFrame(
        [(u, i, _mk_ts(m)) for u, i, m in views],
        "user_id long, view_id long, v_ts timestamp",
    ).coalesce(1).write.parquet(v_dir)
    for name, rows in (("a", clicks_a), ("b", clicks_b)):
        spark.createDataFrame(
            [(u, i, _mk_ts(m)) for u, i, m in rows],
            "c_user long, click_id long, c_ts timestamp",
        ).coalesce(1).write.parquet(str(tmp_path / f"c_{name}"))
        import glob
        import shutil as sh

        os.makedirs(c_dir, exist_ok=True)
        part = glob.glob(str(tmp_path / f"c_{name}" / "part-*.parquet"))[0]
        sh.copy(part, os.path.join(c_dir, f"clicks_{name}.parquet"))

    v = spark.readStream.schema(
        "user_id long, view_id long, v_ts timestamp"
    ).parquet(v_dir)
    c = (
        spark.readStream.schema(
            "c_user long, click_id long, c_ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(c_dir)
    )
    joined = stream_interval_join(
        v, c, "user_id = c_user", "v_ts", "c_ts", f"{gap_min} minutes"
    ).select(
        "user_id",
        "view_id",
        "click_id",
        (F.unix_millis("c_ts") - F.unix_millis("v_ts")).alias("gap_ms"),
    )
    out = str(tmp_path / "out")
    committer = _BatchCommitter(out, "t-ij")
    _drain(
        joined.writeStream.foreachBatch(committer)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    assert len(committer.committed()) >= 2  # clicks really split batches
    got = {
        (r.user_id, r.view_id, r.click_id, r.gap_ms)
        for r in spark.read.parquet(f"{out}/data").collect()
    }
    assert got == expected

    # replay with the same checkpoint: no new batches, no duplicate rows
    committer2 = _BatchCommitter(out, "t-ij")
    _drain(
        joined.writeStream.foreachBatch(committer2)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    assert spark.read.parquet(f"{out}/data").count() == len(expected)


def test_stream_static_enrich_stateless_broadcast(spark, tmp_path):
    """Stream-static join: enriched rows equal the batch join, and the
    streaming plan never instantiates a state store (the dim is a broadcast
    probe — progress reports zero stateful operators)."""
    from ocr_spark.streaming.incremental import (
        _BatchCommitter,
        stream_static_enrich,
    )

    src = str(tmp_path / "src")
    events = spark.createDataFrame(
        [(i, i % 4) for i in range(40)], "event_id long, user_id long"
    )
    events.coalesce(1).write.parquet(src)
    dim = spark.createDataFrame(
        [(0, "A"), (1, "B"), (2, "C")], "user_id long, segment string"
    )
    stream = spark.readStream.schema("event_id long, user_id long").parquet(
        src
    )
    out = str(tmp_path / "out")
    committer = _BatchCommitter(out, "t-sj")
    q = (
        stream_static_enrich(stream, dim, "user_id")
        .writeStream.foreachBatch(committer)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    prog = q.lastProgress
    assert prog is not None and prog["stateOperators"] == []  # stateless

    got = {
        (r.event_id, r.segment)
        for r in spark.read.parquet(f"{out}/data").collect()
    }
    expected = {
        (r.event_id, r.segment) for r in events.join(dim, "user_id").collect()
    }
    assert got == expected and len(expected) == 30  # user 3 unmatched


def test_incremental_scd2_matches_batch_and_replays(spark, tmp_path):
    """stream_scd2's machinery: a user whose tier history spans three
    micro-batches fuses/splits islands exactly like the batch build
    (fold-on-read makes this structural); a full restart over the same
    source replays every batch as a no-op — zero duplicate rows in the
    committed log."""
    import datetime as dt

    from ocr_spark.queries_events import scd2_from_purchases
    from ocr_spark.streaming.incremental import (
        incremental_scd2,
        scd2_intervals,
    )

    def ev(i, user, cents, typ="purchase"):
        return (
            i,
            dt.datetime(2024, 1, 1) + dt.timedelta(hours=i),
            user,
            typ,
            cents / 100.0,
            "{}",
        )

    # user 7: tier 0 (b0), tier 0 then tier 4 (b1), tier 4 (b2)
    # -> exactly two intervals after all three batches fold
    batches = [
        [ev(1, 7, 100), ev(2, 8, 2600, "click")],
        [ev(3, 7, 150), ev(4, 7, 2100)],
        [ev(5, 7, 2200), ev(6, 8, 900)],
    ]
    schema = (
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING"
    )
    src = tmp_path / "src"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    out, ckpt = str(tmp_path / "dim"), str(tmp_path / "ckpt")
    writer, committer = incremental_scd2(spark, str(src), out, ckpt)
    _drain(writer)
    folded = scd2_intervals(spark, out)
    allp = spark.createDataFrame(
        [r for b in batches for r in b], schema
    ).filter("event_type = 'purchase'")
    batch = scd2_from_purchases(allp)
    assert sorted(map(tuple, folded.collect())) == sorted(
        map(tuple, batch.collect())
    )
    u7 = sorted(
        (r["version"], r["tier"]) for r in folded.collect()
        if r["user_id"] == 7
    )
    assert u7 == [(1, 0), (2, 4)]  # three batches fused to two intervals

    committed_before = committer.committed()
    rows_before = spark.read.parquet(f"{out}/data").count()
    # replayed micro-batch (crash after manifest commit): short-circuited,
    # the committed log is unchanged
    replay = spark.createDataFrame(batches[1], schema).filter(
        "event_type = 'purchase'"
    ).select("user_id", "ts", "event_id", "value")
    committer(replay, committed_before[-1])
    assert committer.committed() == committed_before
    assert spark.read.parquet(f"{out}/data").count() == rows_before


# --- streaming weighted reservoir ---------------------------------------------


def test_stream_reservoir_two_waves_fold_to_batch_sample(spark, tmp_path):
    """Wave 1 (2 files) then wave 2 (1 more) through the exactly-once
    committer: after each wave the folded top-K equals the BATCH A-ES
    sample over everything ingested so far (the reservoir merge law,
    live); an idle re-run commits nothing; per-batch state is K-bounded."""
    import pyspark.sql.functions as F

    from ocr_spark.queries_pipeline import reservoir_candidates
    from ocr_spark.streaming.incremental import (
        incremental_reservoir,
        reservoir_totals,
    )

    docs = spark.createDataFrame(
        [(i, 100 + (i * 137) % 4000) for i in range(600)],
        "doc_id long, n_chars long",
    )
    src = str(tmp_path / "src")
    out = str(tmp_path / "res")
    ckpt = str(tmp_path / "ckpt")
    docs.where(F.col("doc_id") < 400).repartition(2).write.parquet(src)

    def run():
        writer, committer = incremental_reservoir(
            spark, src, docs.schema, out, ckpt, k=50
        )
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return committer

    def batch_sample(pred):
        return [
            (r["doc_id"], r["priority"])
            for r in reservoir_candidates(
                docs.where(pred), 50
            ).collect()
        ]

    c1 = run()
    got1 = [
        (r["doc_id"], r["priority"])
        for r in reservoir_totals(spark, out, 50).collect()
    ]
    assert got1 == batch_sample(F.col("doc_id") < 400)
    assert len(c1.committed()) == 2

    # per-batch committed state is K-bounded
    per_batch = (
        spark.read.parquet(f"{out}/data")
        .groupBy("batch_id")
        .count()
        .collect()
    )
    assert all(r["count"] <= 50 for r in per_batch)

    docs.where(F.col("doc_id") >= 400).repartition(1).write.mode(
        "append"
    ).parquet(src)
    c2 = run()
    got2 = [
        (r["doc_id"], r["priority"])
        for r in reservoir_totals(spark, out, 50).collect()
    ]
    assert got2 == batch_sample(F.lit(True))
    assert len(c2.committed()) == 3

    c3 = run()  # idle
    assert len(c3.committed()) == 3
    assert [
        (r["doc_id"], r["priority"])
        for r in reservoir_totals(spark, out, 50).collect()
    ] == got2
