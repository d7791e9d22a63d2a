"""Tests for the snapshot table layer (tables_snapshot.py): commit
atomicity, snapshot isolation / time travel, rollback linearity,
compaction data-identity and file-count reduction, expiry + orphan
reclamation, and the crash windows of the commit protocol.
"""

from __future__ import annotations

import json
import os

import pytest

from ocr_spark import tables_snapshot as snap


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS doc_id", "concat('t', id) AS text"
    )


def _rows(df):
    return sorted((r.doc_id, r.text) for r in df.collect())


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


def test_create_append_read(spark, root):
    assert snap.create(_df(spark, 0, 10), root) == 1
    assert snap.append(_df(spark, 10, 15), root) == 2
    assert snap.current_version(root) == 2
    assert _rows(snap.read(spark, root)) == _rows(_df(spark, 0, 15))


def test_time_travel_is_isolated_from_later_commits(spark, root):
    snap.create(_df(spark, 0, 10), root)
    snap.append(_df(spark, 10, 20), root)
    snap.compact(spark, root)
    assert _rows(snap.read(spark, root, version=1)) == _rows(
        _df(spark, 0, 10)
    )
    assert _rows(snap.read(spark, root, version=2)) == _rows(
        _df(spark, 0, 20)
    )


def test_compact_reduces_files_and_preserves_data(spark, root):
    snap.create(_df(spark, 0, 200).repartition(16), root)
    before = len(snap._read_snapshot(root, 1)["files"])
    assert before == 16
    snap.compact(spark, root, target_file_bytes=1 << 30)
    cur = snap._read_snapshot(root, snap.current_version(root))
    assert len(cur["files"]) == 1
    assert _rows(snap.read(spark, root)) == _rows(_df(spark, 0, 200))
    # old version still reads the old files
    assert _rows(snap.read(spark, root, version=1)) == _rows(
        _df(spark, 0, 200)
    )


def test_rollback_commits_forward(spark, root):
    snap.create(_df(spark, 0, 5), root)
    snap.append(_df(spark, 5, 9), root)
    v = snap.rollback(root, to_version=1)
    assert v == 3 and snap.current_version(root) == 3
    assert _rows(snap.read(spark, root)) == _rows(_df(spark, 0, 5))
    ops = [h["op"] for h in snap.history(root)]
    assert ops == ["create", "append", "rollback:1"]
    # the rolled-past version is still time-travelable
    assert _rows(snap.read(spark, root, version=2)) == _rows(
        _df(spark, 0, 9)
    )


def test_expire_reclaims_unreachable_and_orphans(spark, root):
    snap.create(_df(spark, 0, 10).repartition(4), root)
    snap.compact(spark, root, target_file_bytes=1 << 30)  # v2: 1 file
    # simulate a crashed commit: a staged data file no snapshot lists
    orphan = os.path.join(root, "data", "99999999-00000-part-orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"junk")
    dropped, deleted = snap.expire(root, keep_last=1)
    assert dropped == 1  # v1 gone
    assert deleted == 5  # v1's 4 files + the orphan
    assert _rows(snap.read(spark, root)) == _rows(_df(spark, 0, 10))
    assert snap.versions(root) == [2]
    with pytest.raises(FileNotFoundError):
        snap.read(spark, root, version=1)


def test_expire_never_drops_current(spark, root):
    snap.create(_df(spark, 0, 4), root)
    snap.append(_df(spark, 4, 6), root)
    snap.rollback(root, to_version=1)
    dropped, _ = snap.expire(root, keep_last=1)
    assert snap.current_version(root) in snap.versions(root)
    assert _rows(snap.read(spark, root)) == _rows(_df(spark, 0, 4))


def test_crash_before_pointer_swap_leaves_old_table(spark, root):
    """Steps 1-3 of the commit protocol done, CURRENT swap (step 4) not:
    readers must still see the parent snapshot, and expire must reclaim
    the half-committed snapshot's files."""
    snap.create(_df(spark, 0, 6), root)
    # replay append's internals, stopping before the CURRENT swap
    prev = snap._read_snapshot(root, 1)
    files, _stats = snap._stage_and_move(_df(spark, 6, 9), root, 2)
    s = {
        "version": 2, "parent": 1, "op": "append",
        "files": prev["files"] + files, "schema": prev["schema"],
        "ts": "crash",
    }
    snap._atomic_write(snap._snap_path(root, 2), json.dumps(s))
    # no CURRENT swap — the reader still resolves v1
    assert snap.current_version(root) == 1
    assert _rows(snap.read(spark, root)) == _rows(_df(spark, 0, 6))
    # recovery path A: retry the commit by swapping the pointer
    snap._atomic_write(os.path.join(root, snap._CURRENT), "v00000002\n")
    assert _rows(snap.read(spark, root)) == _rows(_df(spark, 0, 9))


def test_crash_mid_stage_leaves_only_orphans(spark, root):
    """A crash during step 2 (files moved, no snapshot JSON): the table
    is untouched and expire reclaims the moved files."""
    snap.create(_df(spark, 0, 6), root)
    snap._stage_and_move(_df(spark, 6, 9), root, 2)  # no commit
    assert snap.versions(root) == [1]
    assert _rows(snap.read(spark, root)) == _rows(_df(spark, 0, 6))
    _, deleted = snap.expire(root, keep_last=1)
    assert deleted > 0
    assert _rows(snap.read(spark, root)) == _rows(_df(spark, 0, 6))


def test_empty_append_and_empty_table_read(spark, root):
    snap.create(_df(spark, 0, 3).limit(0), root)
    df = snap.read(spark, root)
    assert df.count() == 0
    assert set(df.columns) == {"doc_id", "text"}
    snap.append(_df(spark, 0, 3), root)
    assert _rows(snap.read(spark, root)) == _rows(_df(spark, 0, 3))


def test_create_refuses_existing(spark, root):
    snap.create(_df(spark, 0, 2), root)
    with pytest.raises(ValueError):
        snap.create(_df(spark, 0, 2), root)


# --- copy-on-write MERGE -------------------------------------------------------------


def _kv(spark, pairs):
    return spark.createDataFrame(pairs, "doc_id bigint, text string")


def test_merge_updates_and_inserts(spark, root):
    snap.create(_df(spark, 0, 10), root)
    src = _kv(spark, [(3, "UP3"), (7, "UP7"), (42, "NEW")])
    v = snap.merge(spark, src, root, "doc_id")
    assert v == 2
    expect = sorted(
        [(i, f"t{i}") for i in range(10) if i not in (3, 7)]
        + [(3, "UP3"), (7, "UP7"), (42, "NEW")]
    )
    assert _rows(snap.read(spark, root)) == expect
    # pre-merge snapshot is intact
    assert _rows(snap.read(spark, root, version=1)) == _rows(
        _df(spark, 0, 10)
    )


def test_merge_prunes_untouched_files(spark, root):
    """Keys only in the first append's files: the second append's files
    must be carried into the merge snapshot BY NAME, never rewritten."""
    snap.create(_df(spark, 0, 10), root)
    snap.append(_df(spark, 10, 20), root)
    v2_files = set(snap._read_snapshot(root, 2)["files"])
    v1_files = set(snap._read_snapshot(root, 1)["files"])
    appended = v2_files - v1_files
    # which v1 files actually hold keys 0/5 (file-level ground truth)
    from pyspark.sql import functions as F

    holders = {
        os.path.basename(r._f.split("://")[-1])
        for r in spark.read.parquet(
            *[os.path.join(root, "data", f) for f in v1_files]
        )
        .select("doc_id", F.input_file_name().alias("_f"))
        .where(F.col("doc_id").isin(0, 5))
        .collect()
    }
    snap.merge(spark, _kv(spark, [(0, "X0"), (5, "X5")]), root, "doc_id")
    merged = set(snap._read_snapshot(root, 3)["files"])
    assert appended <= merged              # untouched files carried over
    assert v1_files & merged == v1_files - holders  # only holders rewritten
    assert not (holders & merged)
    expect = sorted(
        [(i, f"t{i}") for i in range(20) if i not in (0, 5)]
        + [(0, "X0"), (5, "X5")]
    )
    assert _rows(snap.read(spark, root)) == expect


def test_merge_pure_insert_touches_nothing(spark, root):
    snap.create(_df(spark, 0, 5), root)
    old = set(snap._read_snapshot(root, 1)["files"])
    snap.merge(spark, _kv(spark, [(100, "NEW")]), root, "doc_id")
    merged = snap._read_snapshot(root, 2)["files"]
    assert old <= set(merged)
    assert _rows(snap.read(spark, root)) == sorted(
        [(i, f"t{i}") for i in range(5)] + [(100, "NEW")]
    )


def test_merge_validate_rejects_duplicate_source_keys(spark, root):
    snap.create(_df(spark, 0, 5), root)
    src = _kv(spark, [(1, "a"), (1, "b")])
    with pytest.raises(ValueError, match="duplicate keys"):
        snap.merge(spark, src, root, "doc_id", validate=True)


# --- file-skipping stats + read_where ------------------------------------------------


def test_read_where_skips_nonoverlapping_files(spark, root):
    """Three appends with disjoint key ranges -> a range scan must open
    only the overlapping files, and still return exact results."""
    snap.create(_df(spark, 0, 100).coalesce(1), root)
    snap.append(_df(spark, 100, 200).coalesce(1), root)
    snap.append(_df(spark, 200, 300).coalesce(1), root)
    df, read_n, skipped = snap.read_where(spark, root, "doc_id", 120, 180)
    assert (read_n, skipped) == (1, 2)
    assert _rows(df) == _rows(_df(spark, 120, 181))
    # fully out-of-range scan opens nothing
    df0, read0, skip0 = snap.read_where(spark, root, "doc_id", 900, 999)
    assert (read0, skip0) == (0, 3) and df0.count() == 0
    assert set(df0.columns) == {"doc_id", "text"}


def test_read_where_exact_on_boundaries_and_unknown_col(spark, root):
    snap.create(_df(spark, 0, 50).coalesce(1), root)
    snap.append(_df(spark, 50, 100).coalesce(1), root)
    # boundary values land inside min/max, never sliced away
    df, read_n, skipped = snap.read_where(spark, root, "doc_id", 49, 50)
    assert _rows(df) == _rows(_df(spark, 49, 51))
    assert read_n == 2 and skipped == 0
    # string footer stats prune too: file 2 holds t50..t99, all > "t2"
    df2, read2, skip2 = snap.read_where(spark, root, "text", "t1", "t2")
    assert (read2, skip2) == (1, 1)
    assert sorted(r.text for r in df2.collect()) == ["t1", "t10", "t11",
        "t12", "t13", "t14", "t15", "t16", "t17", "t18", "t19", "t2"]
    # a file with NO recorded stats for the column: conservative read
    cur = snap._read_snapshot(root, snap.current_version(root))
    for f in cur["files"]:
        cur["stats"][f]["minmax"].pop("text", None)
    snap._atomic_write(
        snap._snap_path(root, cur["version"]), json.dumps(cur)
    )
    _, read3, skip3 = snap.read_where(spark, root, "text", "t1", "t2")
    assert (read3, skip3) == (2, 0)


def test_stats_survive_compact_and_merge(spark, root):
    snap.create(_df(spark, 0, 100).coalesce(1), root)
    snap.append(_df(spark, 100, 200).coalesce(1), root)
    snap.compact(spark, root, target_file_bytes=128)  # forces >1 file
    cur = snap._read_snapshot(root, snap.current_version(root))
    assert all(
        "doc_id" in cur["stats"][f]["minmax"] for f in cur["files"]
    )
    snap.merge(spark, _kv(spark, [(5, "X")]), root, "doc_id")
    cur = snap._read_snapshot(root, snap.current_version(root))
    assert set(cur["stats"].keys()) == set(cur["files"])
    assert all("doc_id" in s["minmax"] for s in cur["stats"].values())


# --- exactly-once streaming append ---------------------------------------------------


def test_streaming_append_exactly_once(spark, tmp_path, root):
    import os as _os

    src = str(tmp_path / "src")
    _os.makedirs(src)
    _df(spark, 0, 5).coalesce(1).write.parquet(src + "/f1")
    _df(spark, 5, 9).coalesce(1).write.parquet(src + "/f2")
    # flatten: the file source wants files, not dirs
    files = []
    for d in ("f1", "f2"):
        for n in _os.listdir(f"{src}/{d}"):
            if n.endswith(".parquet"):
                _os.replace(f"{src}/{d}/{n}", f"{src}/{d}-{n}")
                files.append(f"{src}/{d}-{n}")
    stream = (
        spark.readStream.schema(_df(spark, 0, 1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ckpt = str(tmp_path / "ckpt")
    q = snap.streaming_append(stream, root, ckpt).trigger(
        availableNow=True
    ).start()
    q.awaitTermination()
    assert _rows(snap.read(spark, root)) == _rows(_df(spark, 0, 9))
    ops = [h["op"] for h in snap.history(root)]
    assert sorted(ops) == ["stream-append:0", "stream-append:1"]

    # replay batch 0 (the retry Spark can deliver): invoke the REAL sink
    # the way foreachBatch would on a post-commit retry — must no-op
    n_before = len(snap.versions(root))
    snap.stream_sink(root)(spark.read.parquet(files[0]), 0)
    assert len(snap.versions(root)) == n_before
    assert _rows(snap.read(spark, root)) == _rows(_df(spark, 0, 9))

    # restart with a NEW file: only the new batch lands
    _df(spark, 9, 12).coalesce(1).write.parquet(src + "/f3")
    for n in _os.listdir(f"{src}/f3"):
        if n.endswith(".parquet"):
            _os.replace(f"{src}/f3/{n}", f"{src}/f3-{n}")
    q2 = snap.streaming_append(stream, root, ckpt).trigger(
        availableNow=True
    ).start()
    q2.awaitTermination()
    assert _rows(snap.read(spark, root)) == _rows(_df(spark, 0, 12))
    assert len(snap.versions(root)) == n_before + 1


# --- schema evolution (metadata-only) ------------------------------------------------


def test_add_column_defaults_old_rows(spark, root):
    snap.create(_df(spark, 0, 3), root)
    files_before = snap._read_snapshot(root, 1)["files"]
    v = snap.add_column(root, "lang", "string", default="en")
    # metadata-only: the file list is untouched
    assert snap._read_snapshot(root, v)["files"] == files_before
    got = sorted(
        (r.doc_id, r.text, r.lang) for r in snap.read(spark, root).collect()
    )
    assert got == [(i, f"t{i}", "en") for i in range(3)]
    # new appends carry real values; old files keep defaulting
    new = spark.createDataFrame(
        [(9, "t9", "fr")], "doc_id bigint, text string, lang string"
    )
    snap.append(new, root)
    got = sorted(
        (r.doc_id, r.lang) for r in snap.read(spark, root).collect()
    )
    assert got == [(0, "en"), (1, "en"), (2, "en"), (9, "fr")]
    # time travel to v1 shows the pre-evolution schema
    assert set(snap.read(spark, root, version=1).columns) == {
        "doc_id", "text"
    }


def test_add_column_null_default_and_compact_materializes(spark, root):
    snap.create(_df(spark, 0, 2), root)
    snap.add_column(root, "score", "bigint")
    assert [r.score for r in snap.read(spark, root).collect()] == [
        None, None,
    ]
    snap.compact(spark, root)
    cur = snap._read_snapshot(root, snap.current_version(root))
    # post-compact the files physically contain the column
    import pyarrow.parquet as pq

    f = os.path.join(root, "data", cur["files"][0])
    assert "score" in pq.ParquetFile(f).schema_arrow.names


def test_drop_column_projects_away_without_rewrite(spark, root):
    snap.create(_df(spark, 0, 3), root)
    files_before = snap._read_snapshot(root, 1)["files"]
    v = snap.drop_column(root, "text")
    assert snap._read_snapshot(root, v)["files"] == files_before
    assert snap.read(spark, root).columns == ["doc_id"]
    # time travel still shows it
    assert "text" in snap.read(spark, root, version=1).columns
    # appends after the drop need only the surviving schema
    snap.append(
        spark.createDataFrame([(7,)], "doc_id bigint"), root
    )
    assert sorted(
        r.doc_id for r in snap.read(spark, root).collect()
    ) == [0, 1, 2, 7]


def test_evolution_guards(spark, root):
    snap.create(_df(spark, 0, 2), root)
    with pytest.raises(ValueError, match="already exists"):
        snap.add_column(root, "text", "string")
    with pytest.raises(ValueError, match="no column"):
        snap.drop_column(root, "nope")


# --- overwrite_matching + runner integration (snapshot: locations) -------------------


def test_overwrite_matching_is_idempotent(spark, root):
    base = spark.createDataFrame(
        [(0, 10, "a"), (0, 11, "b"), (1, 20, "c"), (2, 30, "d")],
        "part_id bigint, doc_id bigint, text string",
    )
    snap.create(base, root)
    batch = spark.createDataFrame(
        [(0, 10, "A2"), (0, 12, "NEW"), (1, 20, "C2")],
        "part_id bigint, doc_id bigint, text string",
    )
    snap.overwrite_matching(spark, batch, root, "part_id")
    expect = sorted([(0, 10, "A2"), (0, 12, "NEW"), (1, 20, "C2"),
                     (2, 30, "d")])
    got = lambda: sorted(  # noqa: E731
        (r.part_id, r.doc_id, r.text)
        for r in snap.read(spark, root).collect()
    )
    assert got() == expect
    # the crash-rerun: applying the SAME batch again must not duplicate
    snap.overwrite_matching(spark, batch, root, "part_id")
    assert got() == expect


def test_write_table_routes_snapshot_prefix(spark, root):
    from ocr_spark.tables import read_table, write_table

    loc = f"snapshot:{root}"
    write_table(_df(spark, 0, 5), loc, mode="append")
    write_table(_df(spark, 5, 8), loc, mode="append")
    assert _rows(read_table(spark, loc)) == _rows(_df(spark, 0, 8))
    write_table(_df(spark, 0, 3), loc, mode="create")
    assert _rows(read_table(spark, loc)) == _rows(_df(spark, 0, 3))
    # full history survived the replace
    assert len(snap.versions(root)) == 3


def test_runner_extracts_into_snapshot_table(spark, fixture_df, tmp_path):
    """The production runner writes its DATA sink into a snapshot table
    (data_location='snapshot:...') with no runner changes, and the
    crash window (data written, manifest commit lost) stays idempotent
    through overwrite_matching."""
    import json as _json

    from ocr_spark.operators.extract import extract_pages
    from ocr_spark.operators.runner import Manifest, run_extract
    from ocr_spark.tables import read_table

    out_dir = str(tmp_path / "out")
    loc = f"snapshot:{tmp_path / 'snaptbl'}"
    run_extract(spark, fixture_df, out_dir, run_id="r1", num_parts=4,
                parts_per_batch=2, data_location=loc)
    direct = extract_pages(fixture_df, num_parts=4).collect()

    def key(rows):
        return sorted(
            (r.url, r.warc_ts.isoformat(), r.text_sha256) for r in rows
        )

    assert key(read_table(spark, loc).collect()) == key(direct)

    # crash window: drop one manifest commit, rerun — no duplicate rows
    victim = Manifest(out_dir).dir / "part-00001.json"
    victim.unlink()
    run_extract(spark, fixture_df, out_dir, run_id="r2", num_parts=4,
                parts_per_batch=2, data_location=loc)
    assert key(read_table(spark, loc).collect()) == key(direct)
    assert _json.loads(victim.read_text())["run_id"] == "r2"


def test_clustered_compact_enables_file_skipping(spark, root):
    """Round-robin layout: every file spans the whole key domain, nothing
    prunes. After compact(cluster_by=...): files cover narrow disjoint
    ranges and a point-ish range query opens ~1 file."""
    snap.create(_df(spark, 0, 4000).repartition(8), root)
    _, read_a, skip_a = snap.read_where(spark, root, "doc_id", 100, 120)
    assert (read_a, skip_a) == (8, 0)  # hash layout: no pruning possible
    v1 = snap._read_snapshot(root, 1)
    total = sum(
        os.path.getsize(os.path.join(root, "data", f)) for f in v1["files"]
    )
    # target ~8 output files, each covering a narrow disjoint key range
    snap.compact(
        spark, root, target_file_bytes=max(1, total // 8),
        cluster_by="doc_id",
    )
    cur = snap._read_snapshot(root, snap.current_version(root))
    n_files = len(cur["files"])
    assert n_files >= 4
    df, read_b, skip_b = snap.read_where(spark, root, "doc_id", 100, 120)
    assert read_b <= 2 and skip_b == n_files - read_b
    assert sorted(r.doc_id for r in df.collect()) == list(range(100, 121))
    # clustering is data-identical
    assert _rows(snap.read(spark, root)) == _rows(_df(spark, 0, 4000))


def test_read_appended_incremental_consumption(spark, root):
    snap.create(_df(spark, 0, 5), root)
    v1 = snap.current_version(root)
    snap.append(_df(spark, 5, 9), root)
    snap.append(_df(spark, 9, 12), root)
    # consumer checkpointed at v1: sees exactly the appends since
    got = _rows(snap.read_appended(spark, root, since_version=v1))
    assert got == _rows(_df(spark, 5, 12))
    # caught-up consumer sees nothing
    cur = snap.current_version(root)
    assert snap.read_appended(spark, root, since_version=cur).count() == 0
    # bounded window: v1 -> v2 only
    got2 = _rows(snap.read_appended(spark, root, v1, version=2))
    assert got2 == _rows(_df(spark, 5, 9))


def test_concurrent_commit_conflict_detected(spark, root):
    """Writer A reads v1, writer B commits v2, writer A's commit must
    refuse (CURRENT moved) and leave B's commit intact."""
    snap.create(_df(spark, 0, 4), root)
    prev = snap._read_snapshot(root, 1)  # writer A's view
    snap.append(_df(spark, 4, 6), root)  # writer B wins
    files, stats = snap._stage_and_move(_df(spark, 6, 8), root, 99)
    with pytest.raises(snap.ConflictError):
        snap._commit(
            root, prev["files"] + files, "append", prev["schema"],
            parent=1, stats=stats,
        )
    assert snap.current_version(root) == 2
    assert _rows(snap.read(spark, root)) == _rows(_df(spark, 0, 6))


# --- row-level CDC (changes) ----------------------------------------------------------


def _cdc(df):
    return sorted((r._op, r.doc_id, r.text) for r in df.collect())


def test_changes_append_window_is_inserts_only(spark, root):
    snap.create(_df(spark, 0, 10), root)
    snap.append(_df(spark, 10, 15), root)
    got = _cdc(snap.changes(spark, root, from_version=1))
    assert got == sorted(
        ("I", i, f"t{i}") for i in range(10, 15)
    )


def test_changes_pure_rewrite_is_empty(spark, root):
    """compact() moves every row to new files; the multiset diff must
    cancel them all — a pure-rewrite window yields an empty changelog."""
    snap.create(_df(spark, 0, 20).repartition(6), root)
    snap.compact(spark, root)
    assert snap.changes(spark, root, from_version=1).count() == 0


def test_changes_merge_emits_update_pairs_and_skips_carried_files(
    spark, root
):
    """An update surfaces as its D/I image pair, kept rows in rewritten
    files cancel, and files carried by name between the versions are
    never opened by the changelog scan (inputFiles pin)."""
    snap.create(_df(spark, 0, 40), root)
    snap.append(_df(spark, 40, 80), root)  # carried: key 7 not in here
    src = spark.createDataFrame(
        [(7, "UPDATED"), (1000, "NEW")], "doc_id bigint, text string"
    )
    snap.merge(spark, src, root, "doc_id")
    ch = snap.changes(spark, root, from_version=2)
    assert _cdc(ch) == sorted(
        [("D", 7, "t7"), ("I", 7, "UPDATED"), ("I", 1000, "NEW")]
    )
    # file-awareness: every carried file stays unread
    s1 = snap._read_snapshot(root, 2)
    s2 = snap._read_snapshot(root, 3)
    carried = set(s1["files"]) & set(s2["files"])
    assert carried, "merge rewrote every file — pin needs a carried file"
    read = {os.path.basename(p) for p in ch.inputFiles()}
    assert not (read & carried)


def test_changes_across_schema_evolution_uses_target_schema(spark, root):
    snap.create(_df(spark, 0, 4), root)
    snap.add_column(root, "lang", "string", default="xx")
    snap.append(
        spark.createDataFrame(
            [(100, "tX", "en")], "doc_id bigint, text string, lang string"
        ),
        root,
    )
    got = sorted(
        (r._op, r.doc_id, r.text, r.lang)
        for r in snap.changes(spark, root, from_version=1).collect()
    )
    assert got == [("I", 100, "tX", "en")]
    # and diffing from v0-equivalent (v1) to v2 (the metadata-only
    # evolution) is empty: no files changed
    assert snap.changes(spark, root, 1, to_version=2).count() == 0


# --- branches & tags (write-audit-publish) -----------------------------------


def test_wap_branch_isolation_publish_and_tag(spark, tmp_path):
    """Branch commits are invisible to CURRENT until publish; publish
    fast-forwards atomically; tags are immutable pointers that keep
    reading their version after publish."""
    import pytest as _pytest

    from ocr_spark import tables_snapshot as ts

    root = str(tmp_path / "t")
    base = spark.range(0, 10).selectExpr("id AS doc_id")
    v1 = ts.create(base, root)
    ts.create_tag(root, "rel", at=v1)
    ts.create_branch(root, "audit")
    ts.append_branch(
        spark.range(100, 105).selectExpr("id AS doc_id"), root, "audit"
    )
    # isolation: CURRENT still v1
    assert ts.read(spark, root).count() == 10
    assert ts.branch_head(root, "audit") != v1
    # second branch commit stacks
    ts.append_branch(
        spark.range(200, 202).selectExpr("id AS doc_id"), root, "audit"
    )
    ts.publish_branch(root, "audit")
    assert ts.read(spark, root).count() == 17
    # tag still reads v1 after publish
    assert ts.read(
        spark, root, version=ts.tag_version(root, "rel")
    ).count() == 10
    # tags are immutable
    with _pytest.raises(ValueError):
        ts.create_tag(root, "rel")


def test_wap_publish_conflict_on_divergence(spark, tmp_path):
    """A mainline commit after the branch point makes publish refuse
    (CURRENT no longer an ancestor of the branch head)."""
    import pytest as _pytest

    from ocr_spark import tables_snapshot as ts

    root = str(tmp_path / "t")
    ts.create(spark.range(0, 5).selectExpr("id AS doc_id"), root)
    ts.create_branch(root, "b")
    ts.append_branch(
        spark.range(10, 12).selectExpr("id AS doc_id"), root, "b"
    )
    ts.append(spark.range(20, 23).selectExpr("id AS doc_id"), root)
    with _pytest.raises(ts.ConflictError):
        ts.publish_branch(root, "b")
    # mainline is intact and readable
    assert ts.read(spark, root).count() == 8


def test_expire_keeps_ref_pinned_snapshots(spark, tmp_path):
    """expire never drops a snapshot a tag or branch head points to —
    the reproducibility contract of refs."""
    from ocr_spark import tables_snapshot as ts

    root = str(tmp_path / "t")
    v1 = ts.create(spark.range(0, 4).selectExpr("id AS doc_id"), root)
    ts.create_tag(root, "first", at=v1)
    for k in range(4):
        ts.append(
            spark.range(10 * k, 10 * k + 2).selectExpr("id AS doc_id"),
            root,
        )
    dropped, _deleted = ts.expire(root, keep_last=1)
    assert dropped > 0
    # the tagged snapshot survived and still reads
    assert ts.read(
        spark, root, version=ts.tag_version(root, "first")
    ).count() == 4


def test_expire_pins_branch_ancestors_for_publish(spark, tmp_path):
    """ADVICE r05 (medium): expire() used to pin only ref HEADS, so
    expiring an intermediate branch snapshot made a legal fast-forward
    publish crash walking parent pointers (FileNotFoundError) and wedged
    the branch forever. expire now pins each head's ancestor chain down
    to CURRENT, so publish still proves ancestry."""
    from ocr_spark import tables_snapshot as ts

    root = str(tmp_path / "t")
    ts.create(spark.range(0, 4).selectExpr("id AS doc_id"), root)  # v1
    ts.create_branch(root, "b")
    for k in range(3):  # v2..v4 on the branch
        ts.append_branch(
            spark.range(10 * k, 10 * k + 2).selectExpr("id AS doc_id"),
            root, "b",
        )
    dropped, _ = ts.expire(root, keep_last=1)
    # the whole branch chain (v2..v4) plus CURRENT v1 must survive
    assert dropped == 0
    head = ts.publish_branch(root, "b")  # legal fast-forward: must work
    assert ts.current_version(root) == head
    assert ts.read(spark, root).count() == 10


def test_expire_pins_branch_chain_below_the_kept_tail(spark, tmp_path):
    """With keep_last=2 the recency tail is the top of the branch itself.
    A pin walk that stopped at the first kept snapshot left the branch
    commits below the tail unpinned, expire dropped them, and the branch
    could never publish again. The walk now runs down to CURRENT."""
    from ocr_spark import tables_snapshot as ts

    root = str(tmp_path / "t")
    ts.create(spark.range(0, 4).selectExpr("id AS doc_id"), root)  # v1
    ts.create_branch(root, "b")
    for k in range(4):  # v2..v5 on the branch; the tail is v4, v5
        ts.append_branch(
            spark.range(10 * k, 10 * k + 2).selectExpr("id AS doc_id"),
            root, "b",
        )
    dropped, deleted = ts.expire(root, keep_last=2)
    assert (dropped, deleted) == (0, 0)
    head = ts.publish_branch(root, "b")
    assert head == 5 and ts.current_version(root) == 5
    assert ts.read(spark, root).count() == 12


def test_ancestors_tolerate_missing_snapshot(tmp_path, spark):
    """A table expired by an OLD build (ancestors already gone) must not
    crash publish with FileNotFoundError — the walk stops and publish
    reports an honest ConflictError instead."""
    from ocr_spark import tables_snapshot as ts

    root = str(tmp_path / "t")
    ts.create(spark.range(0, 3).selectExpr("id AS doc_id"), root)
    ts.create_branch(root, "b")
    ts.append_branch(
        spark.range(10, 12).selectExpr("id AS doc_id"), root, "b"
    )  # v2
    ts.append_branch(
        spark.range(20, 22).selectExpr("id AS doc_id"), root, "b"
    )  # v3
    os.remove(snap._snap_path(root, 2))  # simulate old-build expiry
    with pytest.raises(snap.ConflictError):
        snap.publish_branch(root, "b")


def test_version_allocation_is_exclusive(spark, tmp_path):
    """ADVICE r05 (low): concurrent commits on DIFFERENT refs (mainline +
    branch) could both read the same max(versions()) and overwrite one
    snapshot file silently. Allocation is now exclusive-create: a
    pre-existing file at the next number makes the allocator advance, so
    no commit is ever lost."""
    from ocr_spark import tables_snapshot as ts

    root = str(tmp_path / "t")
    ts.create(spark.range(0, 3).selectExpr("id AS doc_id"), root)  # v1
    # squat the number a racing writer would claim (v2) with a fake
    # already-committed snapshot file
    squatted = snap._snap_path(root, 2)
    v1 = json.load(open(snap._snap_path(root, 1)))
    json.dump({**v1, "version": 2, "op": "squatter"}, open(squatted, "w"))
    v = ts.append(spark.range(10, 13).selectExpr("id AS doc_id"), root)
    # the append skipped v2 instead of overwriting it
    assert v == 3
    assert json.load(open(squatted))["op"] == "squatter"
    assert ts.read(spark, root).count() == 6
