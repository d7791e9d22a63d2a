"""Snapshot table layer: Iceberg-style versioned tables over parquet.

The SEMANTICS the north rule needs from a table format — atomic commits,
snapshot-isolated readers, time travel, rollback, data-identical
compaction, snapshot expiry — are format-level. This module implements
them from scratch over immutable parquet data files + JSON snapshot
manifests, the same recipe Iceberg uses (a table IS a pointer to a
manifest listing immutable files):

    <root>/data/<version>-<seq>-part-*.parquet   immutable data files
    <root>/snapshots/v<NNNNNNNN>.json            {version, parent, op,
                                                  files, schema, defaults,
                                                  stats: {file: {minmax,
                                                  cols}}, ts}
    <root>/CURRENT                               text pointer, swapped
                                                 atomically (os.replace)

Capabilities: create/append/replace, snapshot-isolated reads + time
travel (read), range scans with footer-stats file skipping (read_where),
copy-on-write upsert (merge) and dynamic overwrite (overwrite_matching),
clustered compaction (compact cluster_by), schema evolution without
rewrites (add_column/drop_column), forward-committing rollback, snapshot
expiry + orphan reclamation (expire), incremental consumption
(read_appended), exactly-once streaming ingestion (streaming_append),
and optimistic-concurrency conflict detection on every commit
(ConflictError). tables.read_table/write_table route "snapshot:<dir>"
locations here, so the extraction runner uses all of this unchanged.

Commit protocol (single writer, any number of readers):
  1. Spark writes new data files to a staging dir (executor-parallel).
  2. The driver MOVES them into data/ under snapshot-unique names —
     metadata-only renames, no bytes through the driver.
  3. The snapshot JSON is written to a temp name and renamed in.
  4. CURRENT is swapped via os.replace — the atomic commit point.
A crash before step 4 leaves orphan data files but NEVER a corrupt or
half-visible table: readers resolve CURRENT first and only read files
that snapshot lists. Orphans are reclaimed by :func:`expire`, which keeps
every file reachable from a retained snapshot.

Rollback is Iceberg-style: a NEW snapshot whose file list is the target
version's (history stays linear and append-only, so concurrent
time-travel readers are never invalidated). Compaction rewrites the same
rows into fewer files and commits as a new snapshot — old versions still
read the old files until expired.

At 100 TB: data moves only executor-side; the driver touches one rename
per data file and one JSON per commit. Snapshot JSONs grow with file
count, not row count — the compaction op is what keeps file counts (and
thus manifest size and scan planning time) bounded.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import tempfile
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_CURRENT = "CURRENT"


class ConflictError(RuntimeError):
    """A commit raced another writer: CURRENT moved after the writer read
    its parent snapshot. The losing writer re-reads and retries; nothing
    was made visible (the pointer swap never happened)."""


def _snap_path(root: str, version: int) -> str:
    return os.path.join(root, "snapshots", f"v{version:08d}.json")


def _read_snapshot(root: str, version: int) -> dict:
    with open(_snap_path(root, version)) as f:
        return json.load(f)


def current_version(root: str) -> int | None:
    try:
        with open(os.path.join(root, _CURRENT)) as f:
            return int(f.read().strip().lstrip("v"))
    except FileNotFoundError:
        return None


def versions(root: str) -> list[int]:
    snapdir = os.path.join(root, "snapshots")
    if not os.path.isdir(snapdir):
        return []
    return sorted(
        int(n[1:9]) for n in os.listdir(snapdir)
        if n.startswith("v") and n.endswith(".json")
    )


def _atomic_write(path: str | os.PathLike, text: str) -> None:
    """Write ``text`` to ``path`` through a uniquely named temp file and one
    ``os.replace``: readers see the old file or the new one, never a torn
    one, and two writers of one path never share a temp file. Every commit
    record of the engine goes through here (snapshot and ref pointers, the
    runner's manifest and staging marker, the stream batch records and the
    compaction meta)."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)  # atomic on POSIX: the commit point


def _exclusive_write(path: str, text: str) -> bool:
    """Atomically create ``path`` with ``text`` iff it does not already
    exist; returns False (never overwrites) when it does. os.link of a
    fully-written temp file gives both atomicity (no partial file is ever
    visible) and O_EXCL semantics (link fails on an existing target), so
    the snapshot file itself is the allocation lock for its version
    number — see _alloc_version."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _alloc_version(root: str, snap: dict) -> int:
    """Write ``snap`` under the next free version number, exclusively.

    Version numbers are a GLOBAL sequence across refs, but _commit's OCC
    guards only CURRENT and append_branch's only its own branch ref — so
    a concurrent mainline commit and branch commit (different refs) can
    both read the same max(versions()) and race for the same number. The
    exclusive create makes the version namespace itself enforce
    uniqueness: the loser of the race simply advances to the next free
    number instead of silently overwriting the winner's snapshot file
    (which os.replace would have done — a lost commit with no error)."""
    vs = versions(root)
    version = (vs[-1] + 1) if vs else 1
    os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
    while True:
        snap["version"] = version
        if _exclusive_write(_snap_path(root, version),
                            json.dumps(snap, indent=1)):
            return version
        version += 1  # raced with a commit on another ref; retry


def _file_stats(path: str) -> tuple[dict, list[str]]:
    """From the parquet FOOTER (no data read): per-column [min, max] for
    the JSON-safe primitive columns (the scan-planning metadata that lets
    read_where skip whole files) plus the file's column names (what lets
    schema evolution fill defaults for files written before a column
    existed)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    cols_present = list(pf.schema_arrow.names)
    md = pf.metadata
    out: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes) or isinstance(hi, bytes):
                continue  # binary stats aren't JSON-safe; stay prunable-less
            if not isinstance(lo, (int, float, str)):
                continue
            name = col.path_in_schema
            if name in out:
                out[name] = [min(out[name][0], lo), max(out[name][1], hi)]
            else:
                out[name] = [lo, hi]
    return out, cols_present


def _stage_and_move(
    df: DataFrame, root: str, version: int
) -> tuple[list[str], dict]:
    """Write df's partitions to staging (executor-parallel), then rename
    the parquet parts into data/ under snapshot-unique names. Returns the
    relative file names plus their footer min/max stats. Renames are
    metadata ops — no data through the driver; stats come from footers,
    not data pages."""
    staging = tempfile.mkdtemp(prefix=f"snap-stage-{version}-")
    try:
        df.write.mode("overwrite").parquet(staging)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        out = []
        stats = {}
        parts = sorted(
            n for n in os.listdir(staging)
            if n.startswith("part-") and n.endswith(".parquet")
        )
        for i, name in enumerate(parts):
            rel = f"{version:08d}-{i:05d}-{name}"
            dest = os.path.join(root, "data", rel)
            os.replace(os.path.join(staging, name), dest)
            out.append(rel)
            mm, cols_present = _file_stats(dest)
            stats[rel] = {"minmax": mm, "cols": cols_present}
        return out, stats
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _commit(
    root: str, files: list[str], op: str, schema_json: str,
    parent: int | None, stats: dict | None = None,
    defaults: dict | None = None,
) -> int:
    # Optimistic concurrency: the writer computed this commit against
    # ``parent``; if another writer landed a commit in between, CURRENT
    # moved and committing would silently drop that writer's rows from
    # the lineage. Refuse instead — the caller re-reads and retries.
    live = current_version(root)
    if live != parent:
        raise ConflictError(
            f"concurrent commit detected at {root}: expected CURRENT"
            f" v{parent}, found v{live}"
        )
    # version numbers come from the GLOBAL sequence, not parent+1: branch
    # commits (append_branch) allocate from the same namespace, and a
    # mainline commit numbering off its own parent would silently
    # overwrite a branch-allocated snapshot file (found by the WAP
    # divergence test). On a linear history the two rules coincide.
    # Allocation is exclusive-create (_alloc_version), so two refs racing
    # for the same number cannot overwrite each other.
    snap = {
        "version": -1,  # assigned by _alloc_version
        "parent": parent,
        "op": op,
        "files": files,
        "schema": schema_json,
        # per-file column [min, max] for scan planning; keyed by the
        # file names in ``files`` (a file missing here is never pruned)
        "stats": {f: (stats or {}).get(f, {}) for f in files},
        # values that materialize for columns added AFTER a file was
        # written (schema evolution); empty for never-evolved tables
        "defaults": defaults or {},
        "ts": datetime.now(timezone.utc).isoformat(),
    }
    version = _alloc_version(root, snap)
    _atomic_write(os.path.join(root, _CURRENT), f"v{version:08d}\n")
    return version


def create(df: DataFrame, root: str) -> int:
    """Create a snapshot table at ``root`` with df as version 1."""
    if current_version(root) is not None:
        raise ValueError(f"snapshot table already exists at {root}")
    os.makedirs(root, exist_ok=True)
    files, stats = _stage_and_move(df, root, 1)
    return _commit(
        root, files, "create", df.schema.json(), parent=None, stats=stats
    )


def append(df: DataFrame, root: str) -> int:
    """Commit a new snapshot = parent's files + df's new files."""
    parent = current_version(root)
    if parent is None:
        raise ValueError(f"no snapshot table at {root}")
    prev = _read_snapshot(root, parent)
    files, stats = _stage_and_move(df, root, parent + 1)
    return _commit(
        root, prev["files"] + files, "append", prev["schema"], parent,
        stats={**prev.get("stats", {}), **stats},
        defaults=prev.get("defaults"),
    )


def _apply_schema(spark, df: DataFrame, snap: dict) -> DataFrame:
    """Project a raw file scan to the snapshot's authoritative schema:
    columns added after a file was written materialize as their recorded
    default (schema evolution never rewrites data files); columns dropped
    from the schema are projected away even though old files still hold
    them (a later compact physically drops the bytes)."""
    from pyspark.sql import functions as F

    schema = StructType.fromJson(json.loads(snap["schema"]))
    defaults = snap.get("defaults", {})
    for field in schema.fields:
        if field.name not in df.columns:
            df = df.withColumn(
                field.name,
                F.lit(defaults.get(field.name)).cast(field.dataType),
            )
    return df.select([f.name for f in schema.fields])


def _read_files(spark: SparkSession, root: str, snap: dict,
                files: list[str]) -> DataFrame:
    """Read a file subset under the snapshot's authoritative schema.
    Files are GROUPED by the column set their footer recorded at commit
    time, each group is scanned separately, and :func:`_apply_schema`
    fills evolved columns per group — so a default applies exactly to the
    files written before the column existed, never to real nulls written
    after. The number of groups is the number of distinct historical
    schemas among the files (tiny), not the file count."""
    if not files:
        schema = StructType.fromJson(json.loads(snap["schema"]))
        return spark.createDataFrame([], schema)
    stats = snap.get("stats", {})
    groups: dict[tuple, list[str]] = {}
    for f in files:
        cols = stats.get(f, {}).get("cols")
        key = tuple(sorted(cols)) if cols is not None else ("*unknown*",)
        groups.setdefault(key, []).append(f)
    out = None
    for key, grp in sorted(groups.items()):
        reader = spark.read
        if key == ("*unknown*",):
            # pre-cols manifests: merge footers, defaults best-effort
            reader = reader.option("mergeSchema", "true")
        df = _apply_schema(
            spark,
            reader.parquet(*[os.path.join(root, "data", f) for f in grp]),
            snap,
        )
        out = df if out is None else out.unionByName(df)
    return out


def read(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot (CURRENT by default; pass ``version`` to time
    travel). Readers resolve the pointer once — a concurrent commit never
    changes the file set under a running query. The snapshot's schema is
    authoritative: see :func:`_read_files` for evolution semantics."""
    v = version if version is not None else current_version(root)
    if v is None:
        raise ValueError(f"no snapshot table at {root}")
    snap = _read_snapshot(root, v)
    return _read_files(spark, root, snap, snap["files"])


def read_where(
    spark: SparkSession,
    root: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Range scan with FILE-LEVEL skipping: files whose footer [min, max]
    for ``col`` (recorded in the snapshot at commit time) cannot overlap
    [lo, hi] are never opened. The predicate is still applied to the
    surviving files, so the result is exact — the stats only prune.
    Files with no recorded stats for ``col`` are conservatively read.

    Returns (df, files_read, files_skipped) so callers (and tests) can
    see the planning effect. At 100 TB this is the difference between
    opening every footer and opening only the overlapping slice — the
    same planning Iceberg does from its manifests.
    """
    from pyspark.sql import functions as F

    v = version if version is not None else current_version(root)
    if v is None:
        raise ValueError(f"no snapshot table at {root}")
    snap = _read_snapshot(root, v)
    stats = snap.get("stats", {})
    keep = []
    skipped = 0
    for f in snap["files"]:
        mm = stats.get(f, {}).get("minmax", {}).get(col)
        if mm is not None and (mm[1] < lo or mm[0] > hi):
            skipped += 1
        else:
            keep.append(f)
    df = _read_files(spark, root, snap, keep).where(
        F.col(col).between(lo, hi)
    )
    return df, len(keep), skipped


def stream_sink(root: str):
    """The foreachBatch function streaming_append installs: appends each
    micro-batch as one commit tagged ``stream-append:<batch_id>``. On
    restart/retry Spark may replay a batch whose commit already landed,
    so the sink first scans the (linear, small) snapshot log for the tag
    and no-ops — append+tag is idempotent under the one replay Spark can
    deliver. Exposed at module level so the replay window is directly
    testable."""

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        tag = f"stream-append:{batch_id}"
        for v in versions(root):
            if _read_snapshot(root, v)["op"] == tag:
                return  # replayed batch: already committed
        parent = current_version(root)
        if parent is None:
            os.makedirs(root, exist_ok=True)
            files, stats = _stage_and_move(bdf, root, 1)
            _commit(root, files, tag, bdf.schema.json(), None, stats)
            return
        prev = _read_snapshot(root, parent)
        files, stats = _stage_and_move(bdf, root, parent + 1)
        _commit(
            root, prev["files"] + files, tag, prev["schema"], parent,
            stats={**prev.get("stats", {}), **stats},
            defaults=prev.get("defaults"),
        )

    return _sink


def streaming_append(stream_df: DataFrame, root: str, checkpoint: str):
    """Exactly-once Structured Streaming sink into a snapshot table (see
    :func:`stream_sink` for the commit/replay semantics). Returns the
    DataStreamWriter for the caller to trigger/start."""
    return (
        stream_df.writeStream.foreachBatch(stream_sink(root))
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def compact(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 << 20,
    cluster_by: str | None = None,
    zorder_by: list[str] | tuple[str, ...] | None = None,
) -> int:
    """Rewrite the CURRENT snapshot's rows into ceil(bytes/target) files
    and commit as a new snapshot. Data-identical by construction (one
    read + one write of the same rows); prior versions keep reading the
    old files until :func:`expire` reclaims them.

    ``cluster_by`` additionally range-partitions + sorts the rewrite on a
    column, so each output file covers a NARROW, mostly-disjoint value
    range and the footer [min, max] recorded in the manifest turns
    :func:`read_where` into real file skipping. Without clustering, every
    file's min/max spans the whole domain and nothing prunes — at 100 TB
    this rewrite is the difference between a range query opening every
    file and opening ~range/total of them.

    ``zorder_by`` clusters on the Morton interleave of SEVERAL columns
    instead (functions/zorder.py): each output file covers a small tile
    of the multi-column space, so the recorded footer [min, max] is
    narrow on EVERY listed column and :func:`read_where` prunes on any
    of them — one rewrite, several prunable dimensions (linear
    ``cluster_by`` prunes exactly one). The z column is layout-only:
    computed, sorted on, dropped before the write."""
    if cluster_by is not None and zorder_by is not None:
        raise ValueError("cluster_by and zorder_by are exclusive")
    parent = current_version(root)
    if parent is None:
        raise ValueError(f"no snapshot table at {root}")
    snap = _read_snapshot(root, parent)
    total = sum(
        os.path.getsize(os.path.join(root, "data", f))
        for f in snap["files"]
    )
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = read(spark, root, parent)
    if cluster_by is not None:
        df = df.repartitionByRange(n_out, cluster_by).sortWithinPartitions(
            cluster_by
        )
        op = f"compact:cluster_by={cluster_by}"
    elif zorder_by is not None:
        from ocr_spark.functions.zorder import with_zvalue

        df = (
            with_zvalue(df, list(zorder_by))
            .repartitionByRange(n_out, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
        op = f"compact:zorder_by={','.join(zorder_by)}"
    else:
        df = df.repartition(n_out)
        op = "compact"
    files, stats = _stage_and_move(df, root, parent + 1)
    # compact physically materializes evolved columns (read() applied
    # the schema), so the rewritten files need no defaults any more
    return _commit(root, files, op, snap["schema"], parent, stats=stats)


def merge(
    spark: SparkSession,
    source: DataFrame,
    root: str,
    key_col: str,
    validate: bool = False,
) -> int:
    """Copy-on-write MERGE (upsert): source rows replace table rows with
    the same ``key_col`` value; source keys absent from the table insert.

    Scale shape: the "which files contain a matching key" probe reads
    ONLY the key column (column-pruned parquet scan) plus the file name,
    semi-joined against the source keys — at 100 TB that's the cheap
    pass. Then only the AFFECTED files are rewritten: their non-matched
    rows are kept (anti-join against the source keys), the full source is
    unioned in, and the commit's file list is (parent - affected) +
    rewritten — every untouched file is carried over by name, never read.

    ``source`` must be key-unique (an upsert with duplicate source keys
    has no defined winner); pass ``validate=True`` to spend one count job
    enforcing that.
    """
    parent = current_version(root)
    if parent is None:
        raise ValueError(f"no snapshot table at {root}")
    if validate:
        from pyspark.sql import functions as F

        dups = (
            source.groupBy(key_col).count().where(F.col("count") > 1)
        )
        if dups.limit(1).count() > 0:
            raise ValueError("merge source has duplicate keys")
    prev = _read_snapshot(root, parent)
    if not prev["files"]:
        files, stats = _stage_and_move(source, root, parent + 1)
        return _commit(
            root, files, "merge", prev["schema"], parent, stats=stats,
            defaults=prev.get("defaults"),
        )

    from pyspark.sql import functions as F

    paths = [os.path.join(root, "data", f) for f in prev["files"]]
    keys = source.select(key_col).distinct()
    probe = (
        spark.read.parquet(*paths)
        .select(key_col, F.input_file_name().alias("_file"))
        .join(F.broadcast(keys), key_col, "left_semi")
        .select("_file")
        .distinct()
    )
    affected = {
        os.path.basename(r._file.split("://")[-1])
        for r in probe.collect()
    }
    untouched = [f for f in prev["files"] if f not in affected]
    if affected:
        kept = (
            spark.read.parquet(
                *[os.path.join(root, "data", f) for f in sorted(affected)]
            )
            .join(F.broadcast(keys), key_col, "left_anti")
        )
        new_data = kept.unionByName(source)
    else:
        new_data = source
    files, stats = _stage_and_move(new_data, root, parent + 1)
    return _commit(
        root, untouched + files, "merge", prev["schema"], parent,
        stats={**prev.get("stats", {}), **stats},
        defaults=prev.get("defaults"),
    )


def replace(spark: SparkSession, df: DataFrame, root: str) -> int:
    """createOrReplace semantics: create the table if absent, else commit
    a snapshot containing ONLY df's files (prior versions remain
    time-travelable until expired)."""
    parent = current_version(root)
    if parent is None:
        return create(df, root)
    prev = _read_snapshot(root, parent)
    files, stats = _stage_and_move(df, root, parent + 1)
    return _commit(
        root, files, "replace", df.schema.json(), parent, stats=stats
    )


def overwrite_matching(
    spark: SparkSession, df: DataFrame, root: str, key_col: str
) -> int:
    """Dynamic-overwrite semantics at file granularity: delete every row
    whose ``key_col`` value appears in df, then append df — the
    idempotent per-batch commit the extraction runner uses (re-running a
    crashed batch replaces exactly that batch's partitions, never
    duplicates them). Unlike :func:`merge`, keys are PARTITION labels
    (many rows share one), not row identities.

    Same copy-on-write shape as merge: a column-pruned probe finds the
    files holding matching keys; only those rewrite (keeping their
    non-matching rows); untouched files carry over by name."""
    parent = current_version(root)
    if parent is None:
        os.makedirs(root, exist_ok=True)
        return create(df, root)
    from pyspark.sql import functions as F

    prev = _read_snapshot(root, parent)
    keys = df.select(key_col).distinct()
    untouched = list(prev["files"])
    kept = None
    if prev["files"]:
        paths = [os.path.join(root, "data", f) for f in prev["files"]]
        probe = (
            spark.read.parquet(*paths)
            .select(key_col, F.input_file_name().alias("_file"))
            .join(F.broadcast(keys), key_col, "left_semi")
            .select("_file")
            .distinct()
        )
        affected = {
            os.path.basename(r._file.split("://")[-1])
            for r in probe.collect()
        }
        untouched = [f for f in prev["files"] if f not in affected]
        if affected:
            kept = _read_files(
                spark, root, prev, sorted(affected)
            ).join(F.broadcast(keys), key_col, "left_anti")
    new_data = df if kept is None else kept.unionByName(df)
    files, stats = _stage_and_move(new_data, root, parent + 1)
    return _commit(
        root, untouched + files, "overwrite_matching", prev["schema"],
        parent,
        stats={**prev.get("stats", {}), **stats},
        defaults=prev.get("defaults"),
    )


def add_column(
    root: str, name: str, spark_type: str, default=None
) -> int:
    """Schema evolution: add a column WITHOUT rewriting any data file.
    Rows in files written before the evolution read back as ``default``
    (recorded in the manifest); files written after carry real values.
    ``spark_type`` is a Spark SQL type string (``"bigint"``, ``"string"``,
    ...). Metadata-only: the commit reuses the parent's file list."""
    from pyspark.sql.types import _parse_datatype_string

    parent = current_version(root)
    if parent is None:
        raise ValueError(f"no snapshot table at {root}")
    prev = _read_snapshot(root, parent)
    schema = StructType.fromJson(json.loads(prev["schema"]))
    if name in schema.fieldNames():
        raise ValueError(f"column {name} already exists")
    schema = schema.add(name, _parse_datatype_string(spark_type))
    defaults = dict(prev.get("defaults", {}))
    if default is not None:
        defaults[name] = default
    return _commit(
        root, prev["files"], f"add-column:{name}", schema.json(),
        parent, stats=prev.get("stats"), defaults=defaults,
    )


def drop_column(root: str, name: str) -> int:
    """Schema evolution: drop a column WITHOUT rewriting any data file —
    the column is projected away at read time; a later compact physically
    removes the bytes. Metadata-only commit."""
    parent = current_version(root)
    if parent is None:
        raise ValueError(f"no snapshot table at {root}")
    prev = _read_snapshot(root, parent)
    schema = StructType.fromJson(json.loads(prev["schema"]))
    if name not in schema.fieldNames():
        raise ValueError(f"no column {name}")
    kept = StructType([f for f in schema.fields if f.name != name])
    defaults = {
        k: v for k, v in prev.get("defaults", {}).items() if k != name
    }
    return _commit(
        root, prev["files"], f"drop-column:{name}", kept.json(),
        parent, stats=prev.get("stats"), defaults=defaults,
    )


def rollback(root: str, to_version: int) -> int:
    """Commit a NEW snapshot whose content is ``to_version``'s file list
    (history stays linear; nothing is deleted)."""
    parent = current_version(root)
    if parent is None:
        raise ValueError(f"no snapshot table at {root}")
    target = _read_snapshot(root, to_version)
    return _commit(
        root, target["files"], f"rollback:{to_version}",
        target["schema"], parent, stats=target.get("stats"),
        defaults=target.get("defaults"),
    )


def expire(root: str, keep_last: int = 2) -> tuple[int, int]:
    """Drop all but the last ``keep_last`` snapshots and delete every
    data file not reachable from a kept one (orphans from crashed
    commits included). Returns (snapshots_dropped, files_deleted)."""
    vs = versions(root)
    keep = set(vs[-keep_last:]) if keep_last > 0 else set(vs[-1:])
    cur = current_version(root)
    if cur is not None:
        keep.add(cur)
    # ref-pointed snapshots (branch heads, tags) are pinned, AND so is
    # each head's whole ancestor chain: publish_branch walks parent
    # pointers until it meets CURRENT, so expiring any snapshot between a
    # head and CURRENT would wedge a legal fast-forward publish with a
    # missing-file walk. The walk stops at CURRENT or at a chain already
    # pinned in this pass — NOT at a snapshot kept by recency, whose own
    # parents are not pinned (the keep_last tail can sit on the branch,
    # above the branch point). Cost is bounded by history length.
    chain_pinned: set[int] = set()
    for kind in ("branches", "tags"):
        d = os.path.join(root, "refs", kind)
        if os.path.isdir(d):
            for n in os.listdir(d):
                v: int | None = _read_ref(root, kind, n)
                while v is not None and v != cur and v not in chain_pinned:
                    chain_pinned.add(v)
                    try:
                        v = _read_snapshot(root, v).get("parent")
                    except FileNotFoundError:
                        break  # already-expired history: walk ends
    keep |= chain_pinned
    reachable: set[str] = set()
    for v in keep:
        reachable.update(_read_snapshot(root, v)["files"])
    dropped = 0
    for v in vs:
        if v not in keep:
            os.remove(_snap_path(root, v))
            dropped += 1
    deleted = 0
    datadir = os.path.join(root, "data")
    for name in os.listdir(datadir) if os.path.isdir(datadir) else []:
        if name not in reachable:
            os.remove(os.path.join(datadir, name))
            deleted += 1
    return dropped, deleted


def read_appended(
    spark: SparkSession, root: str, since_version: int,
    version: int | None = None,
) -> DataFrame:
    """Incremental consumption: the rows in files ADDED between
    ``since_version`` (exclusive) and ``version`` (default CURRENT) — the
    file-level changelog an incremental consumer reads instead of
    rescanning the table. For append-only histories this is exactly the
    new rows; a merge/overwrite_matching in the window surfaces its
    rewritten files' rows too (kept + updated — file-level, not row-diff),
    and a compact's rewrite is all-files-new by construction, so callers
    schedule maintenance between consumption points or diff downstream."""
    v = version if version is not None else current_version(root)
    if v is None:
        raise ValueError(f"no snapshot table at {root}")
    base = set(_read_snapshot(root, since_version)["files"])
    snap = _read_snapshot(root, v)
    added = [f for f in snap["files"] if f not in base]
    return _read_files(spark, root, snap, added)


def changes(
    spark: SparkSession, root: str, from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change-data-capture between two versions → the target
    version's schema plus ``_op`` ('I' inserted / 'D' deleted); an update
    surfaces as its 'D' old image + 'I' new image pair.

    File-aware, which is what makes it cheap: files carried BY NAME
    between the two versions hold identical rows by the layer's
    immutability invariant and are never opened — only the removed and
    added file sets are read. Rows that merely MOVED between files (a
    compact's rewrite, a merge's kept rows) cancel via the multiset
    difference (exceptAll both ways), so a pure-rewrite window yields an
    EMPTY changelog. This is read_appended's row-exact sibling: that one
    is the cheap file-level feed for append-mostly consumers; this one is
    the exact diff a downstream mirror applies.

    If the schema evolved in the window, both sides are projected to the
    TARGET version's schema (defaults fill old-side columns added since),
    so the diff compares like with like.
    """
    from pyspark.sql import functions as F

    v2 = to_version if to_version is not None else current_version(root)
    if v2 is None:
        raise ValueError(f"no snapshot table at {root}")
    s1 = _read_snapshot(root, from_version)
    s2 = _read_snapshot(root, v2)
    f1, f2 = set(s1["files"]), set(s2["files"])
    old = _apply_schema(
        spark,
        _read_files(spark, root, s1, sorted(f1 - f2)),
        s2,
    )
    new = _read_files(spark, root, s2, sorted(f2 - f1))
    dels = old.exceptAll(new)
    ins = new.exceptAll(old)
    return dels.withColumn("_op", F.lit("D")).unionByName(
        ins.withColumn("_op", F.lit("I"))
    )


def history(root: str) -> list[dict]:
    """Snapshot log (version, op, parent, n_files, ts) — the audit trail
    an operator reads before a rollback."""
    out = []
    for v in versions(root):
        s = _read_snapshot(root, v)
        out.append(
            {
                "version": s["version"],
                "op": s["op"],
                "parent": s["parent"],
                "n_files": len(s["files"]),
                "ts": s["ts"],
            }
        )
    return out


# --- branches & tags (write-audit-publish) -----------------------------------
# Named refs over the same snapshot DAG: a TAG is an immutable pointer
# (reproducibility: "the corpus the model trained on"), a BRANCH is a
# mutable pointer advanced by branch-scoped commits WITHOUT moving
# CURRENT — the write-audit-publish pattern: stage data on a branch, run
# audits against it, then PUBLISH by fast-forwarding CURRENT to the
# branch head (a single atomic pointer swap; publish refuses when
# CURRENT diverged past the branch point, the same optimistic-
# concurrency stance as _commit). Branch commits allocate version
# numbers from the global sequence (max + 1) so the snapshot namespace
# never collides across refs; parentage lives in each snapshot's
# ``parent`` field, so ancestry walks are pointer-file-free.


def _ref_path(root: str, kind: str, name: str) -> str:
    return os.path.join(root, "refs", kind, name)


def _write_ref(root: str, kind: str, name: str, version: int) -> None:
    p = _ref_path(root, kind, name)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    _atomic_write(p, f"v{version:08d}\n")


def _read_ref(root: str, kind: str, name: str) -> int:
    try:
        with open(_ref_path(root, kind, name)) as f:
            return int(f.read().strip().lstrip("v"))
    except FileNotFoundError:
        raise ValueError(f"no {kind[:-1]} named {name!r} at {root}")


def create_branch(root: str, name: str, at: int | None = None) -> int:
    v = at if at is not None else current_version(root)
    if v is None or v not in versions(root):
        raise ValueError(f"cannot branch at v{v}: no such snapshot")
    if os.path.exists(_ref_path(root, "branches", name)):
        raise ValueError(f"branch {name!r} already exists")
    _write_ref(root, "branches", name, v)
    return v


def create_tag(root: str, name: str, at: int | None = None) -> int:
    v = at if at is not None else current_version(root)
    if v is None or v not in versions(root):
        raise ValueError(f"cannot tag v{v}: no such snapshot")
    if os.path.exists(_ref_path(root, "tags", name)):
        raise ValueError(f"tag {name!r} already exists (tags are immutable)")
    _write_ref(root, "tags", name, v)
    return v


def branch_head(root: str, name: str) -> int:
    return _read_ref(root, "branches", name)


def tag_version(root: str, name: str) -> int:
    return _read_ref(root, "tags", name)


def _ancestors(root: str, version: int) -> set[int]:
    """Parent-pointer closure of ``version`` (inclusive). Tolerates an
    expired (missing) ancestor snapshot by ending the walk there:
    history beyond an expired snapshot is simply unreachable, so callers
    (publish_branch) see an honest ConflictError — 'not an ancestor' —
    instead of a FileNotFoundError crash. expire() pins every ref head's
    chain down to CURRENT precisely so a LEGAL fast-forward never hits
    this truncation."""
    out = set()
    v: int | None = version
    while v is not None and v not in out:
        out.add(v)
        try:
            v = _read_snapshot(root, v).get("parent")
        except FileNotFoundError:
            break
    return out


def append_branch(df: DataFrame, root: str, name: str) -> int:
    """Append-commit onto a branch: advances refs/branches/<name> only —
    CURRENT (and every other ref) never sees the rows until publish."""
    parent = branch_head(root, name)
    psnap = _read_snapshot(root, parent)
    files, stats = _stage_and_move(df, root, max(versions(root)) + 1)
    # OCC on the BRANCH pointer (the _commit discipline, ref-scoped)
    if branch_head(root, name) != parent:
        raise ConflictError(
            f"concurrent branch commit on {name!r} at {root}"
        )
    snap = {
        "version": -1,  # assigned by _alloc_version (exclusive-create)
        "parent": parent,
        "op": f"append-branch:{name}",
        "files": psnap["files"] + files,
        "schema": psnap["schema"],
        "stats": {**psnap.get("stats", {}),
                  **{f: stats.get(f, {}) for f in files}},
        "defaults": psnap.get("defaults", {}),
        "ts": datetime.now(timezone.utc).isoformat(),
    }
    version = _alloc_version(root, snap)
    _write_ref(root, "branches", name, version)
    return version


def publish_branch(root: str, name: str) -> int:
    """Fast-forward CURRENT to the branch head. Refuses when CURRENT is
    not an ancestor of the head (a mainline commit landed after the
    branch point — rebase/retry, the ConflictError contract)."""
    head = branch_head(root, name)
    cur = current_version(root)
    if cur not in _ancestors(root, head):
        raise ConflictError(
            f"publish {name!r}: CURRENT v{cur} diverged from the branch"
            f" (not an ancestor of head v{head})"
        )
    _atomic_write(os.path.join(root, _CURRENT), f"v{head:08d}\n")
    return head


def refs(root: str) -> dict[str, dict[str, int]]:
    out: dict[str, dict[str, int]] = {"branches": {}, "tags": {}}
    for kind in out:
        d = os.path.join(root, "refs", kind)
        if os.path.isdir(d):
            for n in sorted(os.listdir(d)):
                out[kind][n] = _read_ref(root, kind, n)
    return out
