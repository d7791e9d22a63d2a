"""Partition-granular extraction runner: lineage + checkpoint manifest + resume
(SURVEY.md §2 ops 4, 5, 6, 22; §3.2 steps 3 and 8; north_rule "resumable from
checkpoint with per-partition lineage + metrics").

Layout of an output table directory::

    <out_dir>/data/part_id=<N>/*.parquet     -- extracted rows (op 4)
    <out_dir>/_manifest/part-<N>.json        -- commit record = the part's
                                                lineage row (ops 5, 6)
    <out_dir>/_manifest/failed-<uuid>.json   -- lineage rows of a failed batch
    <out_dir>/_staged/pages/part_id=<N>/...  -- staged input (multi-batch runs)

Crash-safety contract — the one commit protocol of the engine, shared by
this runner (a unit = a part_id) and the streaming committers
(``streaming/incremental._BatchCommitter``, a unit = a micro-batch id):

- a unit is COMMITTED iff its :class:`Manifest` record exists;
- its data is written first, to a location scoped to the unit and replaced
  on rewrite (dynamic partition overwrite here, a ``batch_id=N`` directory
  overwrite there), so redoing an uncommitted unit replaces a killed
  attempt's files instead of appending duplicates;
- the record's row count is read back from the written files; a read-back
  error propagates and leaves the unit uncommitted, so the redo runs again
  instead of committing a wrong count;
- the record is written LAST, through ``tables_snapshot._atomic_write``
  (temp file + ``os.replace``), so readers never observe a torn record
  (here the record is the part's one lineage row);
- resume skips the committed units (here a ``part_id NOT IN`` filter — pure
  partition pruning on the part_id-partitioned layout, no data shuffle).

part_id = pmod(xxhash64(url), num_parts) is independent of cluster size and
task layout, so a manifest written at N executors resumes correctly at 4N.

Single-scan guarantee (the 100 TB property): the raw input is scanned AT MOST
ONCE per run, regardless of batch count. part_id is a *derived* column
(pmod(xxhash64(url))), so a per-batch ``where(part_id IN batch)`` on the raw
input can never push down — with B batches that was B full input reads
(4x read amplification at the round-1 defaults, 400 TB of re-read at the
design point). Now:

- a single-batch run filters nothing and streams the input straight through;
- a multi-batch run first STAGES the input once — one pass computing part_id
  and writing ``_staged/pages`` partitioned by part_id (a salted exchange
  bounds files-per-part and splits hot hosts) — and every batch then reads
  the staged layout where part_id is a real partition column, so the batch
  filter is pure directory pruning (PartitionFilters in the scan, verified
  in tests/test_runner_scan.py by deleting the raw input after staging);
- a resumed run whose staging completed re-reads NO raw input at all.

This mirrors the Iceberg design (input table partitioned by bucket(url)), in
which case staging is unnecessary; see SURVEY §4 "partition pruning".

Lineage: ``input_rows`` is counted at the parse boundary by a per-part
accumulator inside the mapInArrow stage (independent of the output), and
``output_rows``/``bytes_in`` come from a column-pruned read-back of the
just-written parquet — never from a second scan of the raw input. A
failed batch or staging writes a new ``failed-*.json`` file of its
``status='failed'`` rows, which ``completed_parts`` ignores: the parts stay
uncommitted. :func:`read_lineage` reads both kinds of file, no Spark job.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import pathlib
import shutil
import time
import uuid
from collections.abc import Callable, Sequence

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.operators.extract import (
    DEFAULT_NUM_PARTS,
    extract_rows,
    extract_text_rows,
    metadata_rows,
    outlink_rows,
    salted,
    select_extracted,
    with_part_id,
)
from ocr_spark.schemas import LINEAGE_SCHEMA, PAGES_SCHEMA
from ocr_spark.tables_snapshot import _atomic_write


class _PartCountParam(AccumulatorParam):
    """Accumulator merging ``{(stage, partition, attempt): {part_id: n}}``
    contributions from parse tasks. Batches of the SAME task attempt sum;
    distinct attempts stay separate so the driver can dedup retries."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for key, counts in b.items():
            inner = a.setdefault(key, {})
            for part, n in counts.items():
                inner[part] = inner.get(part, 0) + n
        return a


def _dedup_input_counts(acc_value: dict) -> dict[int, int]:
    """Collapse attempt-tagged contributions to exact per-part input counts:
    keep ONE attempt per (stage, partition) — a retried/speculative task
    re-reads the same deterministic split, so any single completed attempt
    carries the true counts (the lowest attempt number is chosen for
    determinism) — then sum across partitions."""
    chosen: dict[tuple[int, int], tuple[int, dict]] = {}
    for (stage, part_idx, attempt), counts in acc_value.items():
        cur = chosen.get((stage, part_idx))
        if cur is None or attempt < cur[0]:
            chosen[(stage, part_idx)] = (attempt, counts)
    out: dict[int, int] = {}
    for _, counts in chosen.values():
        for part, n in counts.items():
            out[part] = out.get(part, 0) + n
    return out


class Manifest:
    """Checkpoint manifest: one JSON commit record per committed unit, named
    ``<prefix>-<unit>.json`` (the runner's ``_manifest/part-NNNNN.json``,
    a stream's ``_stream_manifest/batch-NNNNNNNNNN.json``)."""

    def __init__(
        self,
        out_dir: str | os.PathLike,
        subdir: str = "_manifest",
        prefix: str = "part",
        width: int = 5,
    ) -> None:
        self.dir = pathlib.Path(out_dir) / subdir
        self._prefix = prefix
        self._width = width

    def path(self, unit: int) -> pathlib.Path:
        return self.dir / f"{self._prefix}-{unit:0{self._width}d}.json"

    def completed_parts(self) -> dict[int, dict]:
        """``{unit: record}`` of every committed unit."""
        return {
            int(p.stem.split("-")[1]): json.loads(p.read_text())
            for p in sorted(self.dir.glob(f"{self._prefix}-*.json"))
        }

    def commit(self, unit: int, rec: dict) -> None:
        """Atomically record one unit as committed (op 6)."""
        self.dir.mkdir(parents=True, exist_ok=True)
        _atomic_write(self.path(unit), json.dumps(rec, sort_keys=True))


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Op 1: read a parquet pages table with its spec'd schema."""
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """The extracted table with its spec'd schema (EXTRACTED_SCHEMA).

    The physical parquet carries one extra ``bytes_in`` column so lineage can
    be aggregated from a column-pruned read-back instead of a second scan of
    the raw input; it is an accounting detail, not part of the table surface.
    """
    return spark.read.parquet(str(pathlib.Path(out_dir) / "data")).drop(
        "bytes_in"
    )


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Lineage rows (``LINEAGE_SCHEMA``): the committed parts' manifest
    records and the rows of every failed batch.

    Goes through a pandas frame on purpose: ``createDataFrame(list)`` plans
    a pickled-RDD scan that needs a Python-worker round trip, while the
    Arrow/pandas path plans a JVM-side LocalRelation."""
    import pandas as pd

    manifest = Manifest(out_dir)
    recs = list(manifest.completed_parts().values())
    for p in sorted(manifest.dir.glob("failed-*.json")):
        recs.extend(json.loads(p.read_text()))
    pdf = pd.DataFrame(recs, columns=LINEAGE_SCHEMA.fieldNames())
    for col in ("started_ts", "finished_ts"):
        pdf[col] = pd.to_datetime(pdf[col])
    return spark.createDataFrame(pdf, schema=LINEAGE_SCHEMA)


def _chunks(seq: Sequence[int], size: int) -> list[list[int]]:
    return [list(seq[i : i + size]) for i in range(0, len(seq), size)]


def _utcnow() -> str:
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None).isoformat()


def _lineage_rec(*values) -> dict:
    """A lineage row, values in ``LINEAGE_SCHEMA`` order, as a record."""
    return dict(zip(LINEAGE_SCHEMA.fieldNames(), values))


def _write_failed(
    manifest: Manifest, parts: list[int], run_id: str, started: str
) -> None:
    """Record ``parts`` as failed: one new, uniquely named file of lineage
    rows under ``_manifest/``. They stay uncommitted, so the rerun redoes
    them."""
    ts = _utcnow()
    manifest.dir.mkdir(parents=True, exist_ok=True)
    _atomic_write(
        manifest.dir / f"failed-{uuid.uuid4().hex}.json",
        json.dumps([
            _lineage_rec(p, run_id, 0, 0, 0, started, ts, "failed", 0.0)
            for p in parts
        ]),
    )


def stage_input(
    spark: SparkSession,
    pages: DataFrame,
    out: pathlib.Path,
    num_parts: int,
) -> DataFrame:
    """One-pass staging of the raw input, partitioned by part_id.

    After this, part_id is a REAL partition column of ``_staged/pages``, so
    per-batch part_id filters prune directories instead of re-scanning the
    raw input. The salted exchange bounds files-per-part (≤ salt_n) and
    splits hot hosts across tasks. ``text`` (crawl-provided WET text, unused
    by extraction) is pruned here — at the design point that alone cuts the
    staged bytes meaningfully. Idempotent: a completed staging (marker file)
    is reused by resumed runs, which then re-read no raw input at all.
    """
    staged = out / "_staged"
    marker = staged / "_STAGING_COMPLETE"
    pages_dir = str(staged / "pages")
    # fingerprint = the input's file listing (metadata-only); empty for
    # non-file inputs, in which case only num_parts is validated
    in_files = sorted(pages.inputFiles())
    fp = (
        hashlib.sha256("\n".join(in_files).encode()).hexdigest()
        if in_files
        else None
    )
    if marker.exists():
        # a resumed run MUST be resuming the same job: a different
        # num_parts silently remaps every part_id and a different input
        # violates the immutable-input contract — both corrupt the resume,
        # so they raise instead of reusing or silently re-staging (and so
        # does a marker that does not parse)
        rec = json.loads(marker.read_text())
        if rec.get("num_parts") != num_parts:
            raise ValueError(
                f"staged layout at {staged} was built with num_parts="
                f"{rec.get('num_parts')}, run requested {num_parts}; "
                "use a fresh out_dir (part_ids are not comparable)"
            )
        if fp and rec.get("fingerprint") and rec["fingerprint"] != fp:
            raise ValueError(
                f"input fingerprint changed since staging at {staged} "
                "(the input must be immutable for the lifetime of one "
                "out_dir); use a fresh out_dir"
            )
    else:
        stg = with_part_id(pages, num_parts).select(
            "url", "warc_ts", "html", "lang", "part_id"
        )
        stg = salted(stg, num_parts)
        stg.write.mode("overwrite").partitionBy("part_id").parquet(pages_dir)
        _atomic_write(  # staging committed atomically
            marker,
            json.dumps(
                {
                    "num_parts": num_parts,
                    "fingerprint": fp,
                    "n_input_files": len(in_files),
                }
            ),
        )
    return spark.read.parquet(pages_dir)


def run_extract(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str,
    num_parts: int = DEFAULT_NUM_PARTS,
    parts_per_batch: int = 16,
    after_batch: Callable[[list[int]], None] | None = None,
    data_location: str | None = None,
    links_location: str | None = None,
    meta_location: str | None = None,
) -> dict:
    """Run (or resume) the extraction job over ``pages`` into ``out_dir``.

    ``data_location`` overrides where the extracted DATA rows go (default
    ``<out_dir>/data``): pass a ``snapshot:<dir>`` location to
    write/read-back through the snapshot tables (ocr_spark.tables) while
    manifests/lineage stay in ``out_dir``.

    ``links_location`` (optional) ALSO writes the SPEC §5 outlink product
    (url, warc_ts, part_id, link_id, href, anchor) per batch, from the SAME
    pass: the extraction's finished rows (which carry links and meta) are
    persisted for the batch and consumed by all requesting sinks, so
    requesting side products never re-runs the Python parse (the dominant
    cost at 100 TB — verified by the lineage input counts, which would
    double on a second parse). Side products
    commit under the same manifest: a crash between the writes leaves the
    batch uncommitted and the rerun dynamically overwrites every sink's
    part_id set — idempotent. ``meta_location`` (optional) likewise writes
    the SPEC §6 page-metadata product (url, warc_ts, part_id, title,
    description, canonical, og_title) from the same cached rows.

    Returns ``{"run_id", "parts_done_before", "parts_done_now", "batches",
    "stage_sec"}`` — ``stage_sec`` holds wall seconds summed over batches for
    each phase (``stage`` / ``parse_write`` / ``readback`` / ``manifest``),
    so a bench regression is attributable to one phase instead of showing
    up only as an opaque end-to-end delta. Lineage is the manifest record,
    so its cost is in ``manifest``; ``stage_sec["lineage"]`` stays 0.0, kept
    for callers that read every phase by name (the frozen benchmark).
    ``after_batch`` is a test hook called after each batch commit (used by the
    kill/resume tests to abort mid-run). The input must be immutable for the
    lifetime of one ``out_dir`` (standard for crawl snapshots); staged data
    is removed once every partition has committed.
    """
    from ocr_spark.tables import read_table, write_table

    out = pathlib.Path(out_dir)
    data_dir = data_location or str(out / "data")
    manifest = Manifest(out)

    done_before = sorted(manifest.completed_parts())
    todo = [p for p in range(num_parts) if p not in set(done_before)]

    stage_sec = {
        "stage": 0.0, "parse_write": 0.0, "readback": 0.0,
        "lineage": 0.0, "manifest": 0.0,
    }
    batches = _chunks(todo, parts_per_batch)
    multi_batch = len(batches) > 1
    _ts = time.perf_counter()
    if multi_batch:
        # single-scan path: stage once, then every batch filter prunes
        try:
            pages = stage_input(spark, pages, out, num_parts)
        except Exception:
            # staging died: every todo part fails (the rerun re-stages)
            _write_failed(manifest, todo, run_id, _utcnow())
            raise
    else:
        pages = with_part_id(pages, num_parts)
    stage_sec["stage"] = round(time.perf_counter() - _ts, 3)

    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for batch in batches:
            started = _utcnow()
            t0 = time.perf_counter()
            input_counts = spark.sparkContext.accumulator({}, _PartCountParam())
            rows = None
            try:
                if multi_batch or len(todo) < num_parts:
                    # partition pruning on staged data; on the raw input this
                    # only happens for a resumed single-batch run
                    sub = pages.where(F.col("part_id").isin(batch))
                else:
                    sub = pages  # full run, single batch: no filter at all
                # ONE exchange per batch clusters the rows by part_id, so
                # each sink's write is narrow with one file per part (else
                # every task writes into every part dir: tasks x parts
                # files, measured 7x slower). The text sink alone reads
                # the text hop, which never computes links or meta.
                sides = links_location is not None or meta_location is not None
                rows = (extract_rows if sides else extract_text_rows)(
                    sub, num_parts=num_parts, input_counter=input_counts
                ).repartition(len(batch), "part_id")
                if sides:
                    # all products from ONE parse: persist the finished rows
                    # for the batch (bounded by batch size) and feed the
                    # text sink and the side sinks from the cache
                    rows.persist()
                text = select_extracted(rows, stats=True)
                sinks = [(data_dir, text)]
                if links_location is not None:
                    sinks.append((links_location, outlink_rows(rows)))
                if meta_location is not None:
                    sinks.append((meta_location, metadata_rows(rows)))
                # dynamic overwrite (overwrite_matching when the location
                # is snapshot:): replaces exactly the part_id=N
                # dirs in this batch — idempotent re-run after a crash, no
                # duplicate rows
                for loc, product in sinks:
                    write_table(product, loc, mode="overwrite_partitions",
                                partition_by=("part_id",))
                rows.unpersist()
            except Exception:
                if rows is not None:
                    rows.unpersist()
                # record the failure in lineage, then surface it
                _write_failed(manifest, batch, run_id, started)
                raise
            elapsed = time.perf_counter() - t0
            stage_sec["parse_write"] += elapsed
            finished = _utcnow()

            _ts = time.perf_counter()
            # column-pruned read-back of the freshly written batch, with
            # the schema the text sink wrote (no schema-inference job)
            stats_rows = (
                read_table(spark, data_dir, schema=text.schema)
                .where(F.col("part_id").isin(batch))
                .groupBy("part_id")
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum("bytes_in").alias("bytes_in"),
                )
                .collect()
            )
            stage_sec["readback"] += time.perf_counter() - _ts
            _ts = time.perf_counter()
            stats = {r["part_id"]: r for r in stats_rows}
            in_counts = _dedup_input_counts(input_counts.value)
            # manifest commit LAST: a crash before this point leaves the
            # partition uncommitted and the next run redoes it idempotently
            for part in batch:
                r = stats.get(part)
                n_rows = int(r["rows"]) if r is not None else 0
                manifest.commit(part, _lineage_rec(
                    part, run_id, int(in_counts.get(part, 0)), n_rows,
                    int(r["bytes_in"]) if r is not None else 0,
                    started, finished, "ok",
                    round(n_rows / elapsed, 3) if elapsed > 0 else 0.0,
                ))
            stage_sec["manifest"] += time.perf_counter() - _ts
            if after_batch is not None:
                after_batch(batch)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)

    if multi_batch and len(manifest.completed_parts()) == num_parts:
        shutil.rmtree(out / "_staged", ignore_errors=True)

    return {
        "run_id": run_id,
        "parts_done_before": done_before,
        "parts_done_now": todo,
        "batches": len(batches),
        "stage_sec": {k: round(v, 3) for k, v in stage_sec.items()},
    }
