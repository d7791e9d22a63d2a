"""Incremental crawl ingestion — Structured Streaming (SURVEY.md §2 ops 50-56,
§3.4 entry point 3).

The batch extraction DAG (ops 11-17) composes unchanged onto an unbounded
DataFrame: ``mapInArrow`` and the per-document array HOFs are stateless
row-transforms, so the only streaming-specific pieces are the source, the
watermark/dedup state, the windowed aggregations, and the idempotent sink.

Sink exactly-once contract (op 56): ``foreachBatch`` writing each micro-batch
to its own ``batch_id=<N>`` location (overwrite, so replays replace rather
than append) + a manifest record committed after the write. Structured
Streaming replays a failed micro-batch with the SAME batch_id after restart
from the checkpoint; the commit record short-circuits fully-committed
replays and the batch-scoped overwrite absorbs the write-then-crash window,
so the output table sees each micro-batch exactly once even though the
stream is at-least-once. Tests run with ``trigger(availableNow=True)``
(deterministic drain of everything present, then stop).

At cluster scale the parquet file source scales by listing + split planning
exactly like a batch scan; state (dedup, session windows) is per-key in the
executor state store backed by the checkpoint location.
"""

from __future__ import annotations

import json
import os
import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ocr_spark.operators.extract import extract_pages
from ocr_spark.operators.runner import Manifest
from ocr_spark.schemas import PAGES_SCHEMA
from ocr_spark.tables_snapshot import _atomic_write

DEFAULT_WATERMARK = "1 hour"


# --- op 50: source -----------------------------------------------------------

def stream_pages(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """New page files appearing under ``pages_dir`` become micro-batches."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(pages_dir)


# --- ops 51 + 55: watermark + dedup -----------------------------------------

def with_late_bound(df: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Op 51: bound state; rows later than the watermark are dropped."""
    return df.withWatermark("warc_ts", watermark)


def dedup_recrawls(df: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Op 55: drop recrawls of a url arriving within the watermark window.
    State per url is evicted once the watermark passes — bounded memory."""
    return with_late_bound(df, watermark).dropDuplicatesWithinWatermark(["url"])


# --- ops 52-54: windowed aggregations ----------------------------------------

def ingest_counts_tumbling(df: DataFrame, width: str = "10 minutes") -> DataFrame:
    """Op 52: docs per tumbling window (append-able once watermarked)."""
    return (
        with_late_bound(df)
        .groupBy(F.window("warc_ts", width).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n_docs",
        )
    )


def ingest_counts_sliding(
    df: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Op 53: rolling throughput over overlapping windows."""
    return (
        with_late_bound(df)
        .groupBy(F.window("warc_ts", width, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n_docs",
        )
    )


def crawl_sessions(df: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Op 54: per-host crawl sessions closed after ``gap`` of inactivity."""
    host = F.parse_url("url", F.lit("HOST")).alias("host")
    return (
        with_late_bound(df)
        .groupBy(F.session_window("warc_ts", gap).alias("win"), host)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "host",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_docs",
        )
    )


# --- custom stateful operator: applyInPandasWithState -------------------------

def host_running_counts(df: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (task brief: "applyInPandasWithState
    for custom stateful operators"): a per-host running document counter that
    survives micro-batches AND restarts (state lives in the checkpointed
    state store, one entry per host — bounded by the host cardinality, and
    hosts are the natural partition key so the state shuffle is the same
    exchange the aggregation would need anyway).

    Emits one row per (host, micro-batch) with the batch delta and the
    running total — the shape a crawl monitor consumes. Arrow-batched
    (pandas), never row-at-a-time Python.
    """
    import pandas as pd  # noqa: PLC0415 (executor-side import)

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter, state: GroupState):
        total = state.get[0] if state.exists else 0
        n = 0
        for pdf in pdf_iter:
            n += len(pdf)
        total += n
        state.update((total,))
        yield pd.DataFrame(
            {
                "host": [key[0]],
                "n_docs_batch": [n],
                "n_docs_total": [total],
            }
        )

    host = F.parse_url("url", F.lit("HOST")).alias("host")
    return (
        df.select(host, "url")
        .groupBy("host")
        .applyInPandasWithState(
            fn,
            "host string, n_docs_batch long, n_docs_total long",
            "total long",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


# --- op 56: idempotent sink ---------------------------------------------------

class _BatchCommitter:
    """foreachBatch function: the engine's one commit protocol (see
    ``operators/runner``) with the micro-batch as the unit. Every stream
    sink here is this class or a subclass of it.

    Per batch: return at once if its record exists (a replay of a
    committed batch); else write the batch to ``data/batch_id=<N>`` with
    ``mode("overwrite")``, read the row count back from the written files,
    and commit ``_stream_manifest/batch-<N>.json`` through the shared
    :class:`~ocr_spark.operators.runner.Manifest`. Exactly-once under
    at-least-once micro-batch replay, in every crash window:

    - crash after the commit → the replayed batch_id returns early;
    - crash between the write and the commit → the replay re-writes the
      same batch-scoped directory, replacing the earlier attempt's files
      instead of appending duplicates;
    - the read-back fails → the error propagates, no record is written,
      and the replay redoes the batch (a swallowed error would commit a
      wrong row count for data that was written).

    Single evaluation: the batch plan (mapInArrow parse included) executes
    once, for the write; the record's row count comes from the read-back,
    never a second ``count()`` of the plan. An empty batch writes a
    readable zero-row file, so its count is 0. The batch_id=N layout
    doubles as a partition column when reading ``out/data``, which
    downstream consumers can prune on.

    Subclasses either reduce the batch and call ``super().__call__`` with
    the result, or override :meth:`_write` when they write more than the
    data directory.
    """

    def __init__(self, out_dir: str, run_id: str) -> None:
        self.out = pathlib.Path(out_dir)
        self.run_id = run_id
        self.manifest = Manifest(out_dir, "_stream_manifest", "batch", 10)

    def committed(self) -> list[int]:
        return sorted(self.manifest.completed_parts())

    def _write(self, batch_df: DataFrame, batch_id: int, data_dir: str) -> None:
        batch_df.write.mode("overwrite").parquet(data_dir)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.manifest.path(batch_id).exists():
            return  # replayed micro-batch: already committed
        data_dir = str(self.out / "data" / f"batch_id={batch_id}")
        self._write(batch_df, batch_id, data_dir)
        n = batch_df.sparkSession.read.parquet(data_dir).count()
        self.manifest.commit(
            batch_id, {"batch_id": batch_id, "run_id": self.run_id, "rows": n}
        )


def _committed_sink(
    df: DataFrame, committer: _BatchCommitter, checkpoint_dir: str
) -> tuple[DataStreamWriter, _BatchCommitter]:
    """The append-mode stream writer that hands every micro-batch of ``df``
    to ``committer``, checkpointed at ``checkpoint_dir``; the caller picks
    the trigger."""
    writer = (
        df.writeStream.foreachBatch(committer)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return writer, committer


# Compaction state machine (crash-safe; every transition is a single
# os.rename, recovery rolls an interrupted run forward):
#   _compact_next  — the fully-written NEW generation; complete iff it holds
#                    a _COMPACT_META.json (an _atomic_write) recording the
#                    batch_ids it folded in. Underscore-prefixed files are
#                    invisible to Spark scans, so the meta can live inside
#                    the generation dir itself.
#   batch_id=-1    — the committed generation (the read target).
#   _compact_old   — the previous generation, set ASIDE (never deleted
#                    before the new one is committed).
# Commit sequence: write next+meta → rename target→old → rename next→target
# (THE commit point) → delete covered batch dirs → delete old.
_COMPACT_NEXT = "_compact_next"
_COMPACT_OLD = "_compact_old"
_COMPACT_META = "_COMPACT_META.json"


def _compact_meta(gen_dir: pathlib.Path) -> dict | None:
    p = gen_dir / _COMPACT_META
    return json.loads(p.read_text()) if p.exists() else None


def _recover_compaction(out: pathlib.Path) -> None:
    """Bring an interrupted compaction to a clean state before doing
    anything else. Roll FORWARD if the staged generation completed (its
    meta exists — everything after that point is replayable), roll BACK
    (discard the stage) if it did not. Then finish any pending cleanup:
    batch dirs already folded into the committed generation (listed in its
    meta) are removed so a rerun can never fold them in twice."""
    import shutil

    data = out / "data"
    target = data / "batch_id=-1"
    nxt = out / _COMPACT_NEXT
    old = out / _COMPACT_OLD
    if nxt.exists():
        if _compact_meta(nxt) is None:
            shutil.rmtree(nxt)  # crashed mid-write; nothing was committed
        else:
            # staged generation is complete -> finish the commit
            if target.exists() and not old.exists():
                os.rename(target, old)
            if not target.exists():
                os.rename(nxt, target)
            else:  # defensive: unreachable under the protocol
                shutil.rmtree(nxt)
    meta = _compact_meta(target) if target.exists() else None
    if meta is not None:
        for bid in meta["covered"]:
            p = data / f"batch_id={bid}"
            if p.exists():
                shutil.rmtree(p)
    if old.exists():
        shutil.rmtree(old)


def compact_stream_output(
    spark: SparkSession, out_dir: str, partitions: int = 16
) -> dict:
    """Compact the streaming sink's ``data/batch_id=N`` layout.

    A long-running stream accumulates one directory (and >= 1 file) per
    micro-batch — at design scale that is millions of small files, which
    breaks scan planning long before it breaks storage. Compaction rewrites
    all committed rows into ``partitions`` files under a single
    ``batch_id=-1`` partition (so the directory layout and read schema stay
    identical for downstream readers) and removes the per-batch directories.

    Exactly-once interplay: the stream manifest records are NOT touched, so
    replayed micro-batches from before the compaction are still
    short-circuited by their commit record; a batch replayed into a removed
    directory would in any case just recreate it.

    Crash safety: the commit point is ONE ``os.rename`` of the fully-staged
    new generation onto the target; the previous generation is renamed
    aside (never deleted) before that, and the folded batch_ids are
    recorded in a meta file INSIDE the committed generation, so
    :func:`_recover_compaction` (run on entry) can always either roll an
    interrupted run forward or discard an incomplete stage — a rerun never
    double-folds a batch and never loses the previous generation.

    Returns ``rows`` = rows folded in from the batch dirs this call (the
    compacted slice), and ``rows_total`` = total rows now in the committed
    generation.
    """
    import shutil

    out = pathlib.Path(out_dir)
    data = out / "data"
    _recover_compaction(out)
    batch_dirs = sorted(
        p for p in data.glob("batch_id=*") if p.is_dir()
        and p.name != "batch_id=-1"
    )
    if not batch_dirs:
        return {"compacted_batches": 0, "rows": 0, "rows_total": 0}
    target = data / "batch_id=-1"
    # reading the batch dirs individually (not the partitioned root) drops
    # the batch_id partition column, matching the target generation's schema
    fresh = spark.read.parquet(*[str(p) for p in batch_dirs])
    rows = fresh.count()
    merged = (
        fresh.unionByName(spark.read.parquet(str(target)))
        if target.exists()
        else fresh
    )
    nxt = out / _COMPACT_NEXT
    merged.repartition(partitions).write.mode("overwrite").parquet(str(nxt))
    rows_total = spark.read.parquet(str(nxt)).count()
    covered = [int(p.name.split("=", 1)[1]) for p in batch_dirs]
    _atomic_write(  # the stage is now complete
        nxt / _COMPACT_META,
        json.dumps({"covered": covered, "rows": rows, "rows_total": rows_total}),
    )
    if target.exists():
        os.rename(target, out / _COMPACT_OLD)
    os.rename(nxt, target)  # commit point
    for p in batch_dirs:
        shutil.rmtree(p)
    old = out / _COMPACT_OLD
    if old.exists():
        shutil.rmtree(old)
    return {
        "compacted_batches": len(batch_dirs),
        "rows": rows,
        "rows_total": rows_total,
    }


def incremental_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    run_id: str = "stream",
    watermark: str = DEFAULT_WATERMARK,
    dedup: bool = True,
    meta: bool = False,
) -> tuple[DataStreamWriter, _BatchCommitter]:
    """§3.4 flagship: pages files → dedup'd extraction → idempotent append.

    ``meta=True`` carries the SPEC §6 ``meta`` struct on every output row
    (title/description/canonical/og_title from the SAME parse — a stream
    has one sink, so metadata rides the rows instead of a second product).

    Returns (writer, committer); caller picks the trigger, e.g.::

        writer, _ = incremental_extract(spark, src, out, ckpt)
        writer.trigger(availableNow=True).start().awaitTermination()
    """
    src = stream_pages(spark, pages_dir)
    if dedup:
        src = dedup_recrawls(src, watermark)
    extracted = extract_pages(src, keep_meta=meta)
    return _committed_sink(
        extracted, _BatchCommitter(out_dir, run_id), checkpoint_dir
    )


def incremental_tables(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    run_id: str = "stream-tables",
    watermark: str = DEFAULT_WATERMARK,
    dedup: bool = True,
) -> tuple[DataStreamWriter, _BatchCommitter]:
    """SPEC §7 table-cell product as a stream: new page files → the same
    single-hop parse → cell-fragment explode → idempotent batch append.
    Identical committer semantics to incremental_extract (exactly-once in
    both crash windows); the per-batch plan stays narrow, so micro-batch
    latency is parse-bound, never shuffle-bound."""
    from ocr_spark.operators.extract import extract_tables

    src = stream_pages(spark, pages_dir)
    if dedup:
        src = dedup_recrawls(src, watermark)
    cells = extract_tables(src)
    return _committed_sink(
        cells, _BatchCommitter(out_dir, run_id), checkpoint_dir
    )


# --- incremental near-dup suppression (streaming MinHash LSH) ----------------

class _MinhashDedupCommitter(_BatchCommitter):
    """foreachBatch function: per-micro-batch MinHash near-dup suppression
    against the accumulated band-key store.

    ``full_cc=False`` (default) — per batch: (1) within-batch star-pass
    dedup (the linear ``minhash_group_reps`` decision — keep a doc iff it
    is its own cluster representative; docs with < 3 words have no
    signature and always survive this stage); (2) drop any survivor
    sharing ANY band key with the store (i.e. a near-dup of a previously
    KEPT doc — chains through previously *dropped* docs do not suppress,
    by design: suppression is always against a retained representative);
    (3) write the kept rows to ``data/batch_id=N`` and their band keys to
    ``sigstore/batch_id=N``.

    ``full_cc=True`` — the cross-batch CONNECTED-COMPONENTS mode (round 4,
    closing the documented divergence from batch
    ``near_keepers(full_cc=True)``): (1) within-batch dedup is min-label
    propagation to a fixpoint over the batch's doc–bucket graph
    (functions/graph.bucket_connected_components), so bucket chains
    A~B~C inside one batch collapse to one keeper; (2) the sigstore
    records the band keys of ALL docs in the batch — kept AND dropped —
    so a later doc that chains to this component only through a dropped
    doc still matches the store and is suppressed. Every band-key match
    is an edge of the same graph batch CC uses, so suppression is exactly
    incremental reachability: one kept doc per component, the
    first-arrived one (batch CC keeps the min id instead — the kept SET
    matches whenever arrival order is id order, which the equivalence
    test pins). Store size becomes bands×docs-seen instead of
    bands×docs-kept — still linear, same scan pattern.

    Exactly-once: :class:`_BatchCommitter`'s protocol, with a second
    batch-scoped ``mode("overwrite")`` write (the sigstore) before the
    commit; the store read excludes the current batch_id, so a replayed
    batch sees exactly the store state of its first attempt and recomputes
    the identical kept set.

    Scale: the cross-batch check is one linear pass over the store with
    BROADCAST-only joins of the (small) batch side — the store is never
    shuffled and no pairs are materialized. Global invariant maintained:
    kept docs are pairwise band-key-disjoint (within a batch the star pass
    guarantees it; across batches the store anti-join does). At the 10^12
    design point the parquet store scan per batch becomes the bottleneck;
    the production layout is the same store bucket-partitioned by band-key
    hash in Iceberg so each micro-batch prunes to the buckets it touches.
    """

    def __init__(
        self,
        out_dir: str,
        run_id: str = "stream",
        num_perms: int | None = None,
        bands: int | None = None,
        full_cc: bool = False,
    ) -> None:
        from ocr_spark.queries_textml import BANDS, NUM_PERMS

        super().__init__(out_dir, run_id)
        self.num_perms = num_perms or NUM_PERMS
        self.bands = bands or BANDS
        self.full_cc = full_cc

    def _band_keys(self, docs: DataFrame) -> DataFrame:
        from ocr_spark.queries_textml import (
            minhash_band_keys,
            minhash_signatures,
        )

        return minhash_band_keys(
            minhash_signatures(docs, num_perms=self.num_perms),
            self.bands,
            self.num_perms // self.bands,
        )

    def _write(self, batch_df: DataFrame, batch_id: int, data_dir: str) -> None:
        from ocr_spark.queries_textml import minhash_group_reps

        spark = batch_df.sparkSession
        cc_labels = None  # persisted by the fixpoint; released at the end
        if self.full_cc:
            from ocr_spark.functions.graph import bucket_connected_components

            # within-batch TRUE connected components (fixpoint, eager) —
            # keep the handle so the persisted labels are unpersisted once
            # the batch is written (a long-running stream must not
            # accumulate one cached frame per micro-batch)
            cc_labels = bucket_connected_components(
                self._band_keys(batch_df.select("doc_id", "text"))
            )
            reps = cc_labels
        else:
            reps = minhash_group_reps(
                batch_df.select("doc_id", "text"),
                num_perms=self.num_perms,
                bands=self.bands,
            )
        kept = (
            batch_df.join(reps, "doc_id", "left")
            .filter(F.col("rep").isNull() | (F.col("rep") == F.col("doc_id")))
            .drop("rep")
        )
        prior = [
            p
            for p in sorted((self.out / "sigstore").glob("batch_id=*"))
            if p.is_dir() and int(p.name.split("=", 1)[1]) < batch_id
        ]
        if prior:
            store = spark.read.parquet(*[str(p) for p in prior])
            kb = self._band_keys(kept)
            # store-side pass with broadcast of the batch's keys; only the
            # (rare) matches come back, then a broadcast anti join removes
            # their docs — the store never shuffles
            matched = (
                store.join(
                    F.broadcast(kb.select("bi", "band").distinct()),
                    ["bi", "band"],
                    "left_semi",
                )
                .select("bi", "band")
                .distinct()
            )
            dup_ids = (
                kb.join(F.broadcast(matched), ["bi", "band"], "left_semi")
                .select("doc_id")
                .distinct()
            )
            kept = kept.join(F.broadcast(dup_ids), "doc_id", "left_anti")
        kept = kept.persist()  # consumed by both writes
        kept.write.mode("overwrite").parquet(data_dir)
        sig_dir = self.out / "sigstore" / f"batch_id={batch_id}"
        # full_cc: record EVERY doc's band keys (kept and dropped) so later
        # docs chaining to this component only through a dropped doc still
        # match; star mode records kept docs only (suppression strictly
        # against retained representatives)
        store_side = batch_df if self.full_cc else kept
        self._band_keys(store_side).write.mode("overwrite").parquet(
            str(sig_dir)
        )
        kept.unpersist()
        if cc_labels is not None:
            cc_labels.unpersist()


def incremental_dedup_minhash(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    run_id: str = "stream",
    num_perms: int | None = None,
    bands: int | None = None,
    full_cc: bool = False,
) -> tuple[DataStreamWriter, _MinhashDedupCommitter]:
    """Continuous-crawl near-dup suppression: a streaming DataFrame of
    documents (``doc_id`` + ``text`` + payload columns) → only docs that
    are not near-duplicates of anything previously seen kept, written
    exactly-once to ``out_dir/data`` with the suppression state
    accumulating in ``out_dir/sigstore``.

    ``full_cc=True`` switches both the within-batch pass and the store
    semantics to true connected components (see
    :class:`_MinhashDedupCommitter`): near-dup chains spanning
    micro-batches merge, matching batch ``near_keepers(full_cc=True)``.

    Returns (writer, committer); caller picks the trigger::

        writer, _ = incremental_dedup_minhash(docs, out, ckpt)
        writer.trigger(availableNow=True).start().awaitTermination()
    """
    committer = _MinhashDedupCommitter(
        out_dir, run_id, num_perms, bands, full_cc=full_cc
    )
    return _committed_sink(docs_stream, committer, checkpoint_dir)


# --- incremental link-graph maintenance (SPEC §5 over the stream) -------------

class _EdgeDeltaCommitter(_BatchCommitter):
    """foreachBatch function: aggregate the micro-batch's outlinks to host
    edge DELTAS (src_host, dst_host, n_links) and commit them to
    ``data/batch_id=N`` under the standard exactly-once protocol
    (_BatchCommitter). Totals are additive, so the accumulated graph is
    the SUM over committed batch partitions — never a read-modify-write
    of a totals table, which would reintroduce the lost-update window the
    committer exists to close. Readers fold with ``hostlinks_totals``;
    the batch_id layout compacts with compact_stream_output like every
    other stream sink here.
    """

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ocr_spark.queries_webgraph import link_host_expr

        src_host = F.lower(
            F.regexp_extract(
                F.col("url"),
                r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#:]*)", 1,
            )
        )
        edges = (
            batch_df.select(
                src_host.alias("src_host"),
                link_host_expr(F.col("href"), src_host).alias("dst_host"),
            )
            .groupBy("src_host", "dst_host")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_links"))
        )
        super().__call__(edges, batch_id)


def incremental_hostlinks(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    run_id: str = "stream",
) -> tuple[DataStreamWriter, _EdgeDeltaCommitter]:
    """Streaming link-graph maintenance: new page files → SPEC §5 outlink
    parse (one Arrow hop, narrow) → per-batch host-edge deltas committed
    exactly-once. The accumulated graph feeds functions/graph.pagerank
    periodically (rank recompute is a batch job over the folded edges —
    incremental PageRank is deliberately NOT attempted; the rank vector is
    cheap to recompute and an incremental approximation would break the
    engine's bit-exactness contract).
    """
    from ocr_spark.operators.extract import extract_outlinks

    links = extract_outlinks(stream_pages(spark, pages_dir))
    return _committed_sink(
        links, _EdgeDeltaCommitter(out_dir, run_id), checkpoint_dir
    )


def hostlinks_totals(spark: SparkSession, out_dir: str) -> DataFrame:
    """Fold the committed per-batch edge deltas into current totals."""
    return (
        spark.read.parquet(f"{out_dir}/data")
        .groupBy("src_host", "dst_host")
        .agg(F.sum("n_links").cast("bigint").alias("n_links"))
    )


# --- continuous archive ingest (WARC files → pages, exactly-once) -----------

def stream_warc(
    spark: SparkSession,
    archive_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """New ``.warc`` / ``.warc.gz`` / ``.warc.wet.gz`` files appearing under
    ``archive_dir`` become micro-batches of pages-shaped rows. The
    binaryFile source assigns whole archive files to tasks and the record
    splitter is the same narrow Arrow hop as the batch path
    (sources/warc.parse_warc) — continuous ingest stays shuffle-free."""
    import pyspark.sql.types as T

    from ocr_spark.sources.warc import parse_warc

    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    reader = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("pathGlobFilter", "*.warc*")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    rec = parse_warc(reader.load(archive_dir), "content")
    return rec.select(
        "url",
        F.to_timestamp("warc_date", "yyyy-MM-dd'T'HH:mm:ss'Z'")
        .alias("warc_ts"),
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def incremental_warc_ingest(
    spark: SparkSession,
    archive_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    run_id: str = "warc-stream",
    extract: bool = False,
    max_files_per_trigger: int | None = None,
) -> tuple[DataStreamWriter, _BatchCommitter]:
    """Crawl archives land → pages (or extracted text with
    ``extract=True``) appended exactly-once, same commit contract as
    incremental_extract: the batch_id-scoped overwrite + commit record
    makes a replayed micro-batch a no-op across the write-then-crash
    window. A killed ingest resumes from the checkpoint having processed
    each archive file exactly once."""
    src = stream_warc(spark, archive_dir, max_files_per_trigger)
    df = extract_pages(src) if extract else src
    return _committed_sink(
        df, _BatchCommitter(out_dir, run_id), checkpoint_dir
    )


# --- streaming HLL maintenance (distinct-count registers over a stream) ------

class _HLLRegisterCommitter(_BatchCommitter):
    """foreachBatch function: reduce the micro-batch to its HLL register
    table (functions/sketch.hll_registers) and commit it to
    ``data/batch_id=N`` under the standard exactly-once protocol.

    Registers fold by elementwise MAX (the merge law pinned in
    tests/test_sketch.py), which is IDEMPOTENT — even a hypothetical
    double-committed batch would fold to identical totals; the committer's
    replay guard still keeps the file layout canonical. This is the
    never-read-modify-write shape of _EdgeDeltaCommitter with max instead
    of sum: the accumulated sketch is a pure fold over committed batch
    partitions."""

    def __init__(self, out_dir: str, run_id: str, key_expr: str) -> None:
        super().__init__(out_dir, run_id)
        self.key_expr = key_expr

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ocr_spark.functions.sketch import hll_registers

        regs = hll_registers(
            batch_df.selectExpr(f"{self.key_expr} AS _k"), "_k"
        )
        super().__call__(regs, batch_id)


def incremental_hll(
    spark: SparkSession,
    src_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    key_expr: str,
    run_id: str = "stream",
) -> tuple[DataStreamWriter, _HLLRegisterCommitter]:
    """Streaming distinct-count maintenance: new parquet files under
    ``src_dir`` become micro-batches; each batch contributes ≤ m register
    rows (the batch reduction happens executor-side, map-side-combined),
    so the committed state grows with BATCH COUNT, not with rows — the
    reason one keeps a sketch instead of a seen-set at 100 TB. Readers
    fold with :func:`hll_totals`; estimate via sketch.hll_estimate."""
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    return _committed_sink(
        src, _HLLRegisterCommitter(out_dir, run_id, key_expr), checkpoint_dir
    )


def hll_totals(spark: SparkSession, out_dir: str) -> DataFrame:
    """Fold committed per-batch registers into the current sketch state
    (bucket, reg) — one MAX aggregation over ≤ m rows per batch."""
    return (
        spark.read.parquet(f"{out_dir}/data")
        .groupBy("bucket")
        .agg(F.max("reg").alias("reg"))
    )


# --- streaming joins (round 4 late): stream-static + stream-stream ----------

def stream_static_enrich(stream: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Stream-static inner join: enrich an unbounded stream with a bounded
    dimension table.

    Scale shape: the dim side is explicitly ``broadcast()`` — the ONLY join
    strategy that keeps a stream-static join stateless. Each micro-batch is
    a map-side hash probe against the replicated dim; no state store, no
    shuffle of the stream, and the watermark machinery is never involved
    (the dim is re-resolved per micro-batch, so slowly-changing dims pick up
    new snapshots between batches for free). At 100 TB of stream this is the
    same per-executor cost as a batch broadcast join; a shuffled stream-
    static join would instead re-shuffle EVERY micro-batch against the dim's
    exchange. Dims too big to broadcast belong in the stream-stream path or
    a pre-bucketed store, not here.
    """
    return stream.join(F.broadcast(dim), key)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_cond: str,
    left_ts: str,
    right_ts: str,
    max_gap: str = "10 minutes",
    watermark: str = "31 days",
) -> DataFrame:
    """Stream-stream INNER interval join: right-side rows match left-side
    rows with the same key arriving within ``[left_ts, left_ts + max_gap]``
    (the view→click / fetch→parse attribution shape).

    Semantics + scale: both sides are watermarked, which is what lets the
    state store EVICT — a left row is droppable once the right watermark
    passes ``left_ts + max_gap``, so state is bounded by (rate × gap +
    lateness SLA), not by stream length. INNER join results are emitted
    eagerly on match (they never wait for the watermark — only outer-join
    NULL emission does), so the matched set is deterministic under any
    micro-batch split as long as the watermark delay covers the source's
    real disorder: a right row in batch N joins left rows buffered from
    batches < N out of the state store. The join itself shuffles both sides
    by the equality key per micro-batch — same exchange as a batch shuffle
    join, plus the keyed state lookup. Tests pin cross-micro-batch matching
    (maxFilesPerTrigger=1) equal to the batch interval join.
    """
    cond = F.expr(
        f"{key_cond} AND {right_ts} >= {left_ts} "
        f"AND {right_ts} <= {left_ts} + interval {max_gap}"
    )
    return (
        left.withWatermark(left_ts, watermark)
        .join(right.withWatermark(right_ts, watermark), cond)
    )


# --- streaming data-quality monitoring (round 4 late) -------------------------

class _DQCounterCommitter(_BatchCommitter):
    """foreachBatch function: reduce the micro-batch to its one-row DQ
    counter frame (operators/dq.dq_partial_counts) and commit it under
    the standard exactly-once protocol. Counters fold by SUM — the
    replay guard matters here (unlike the MAX-folded HLL registers, a
    double-committed counter row WOULD double-count), which is exactly
    what the manifest-before-data ordering prevents."""

    def __init__(self, out_dir: str, run_id: str, constraints) -> None:
        super().__init__(out_dir, run_id)
        self.constraints = constraints

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ocr_spark.operators.dq import dq_partial_counts

        super().__call__(
            dq_partial_counts(batch_df, self.constraints), batch_id
        )


def incremental_dq(
    spark: SparkSession,
    src_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    constraints,
    run_id: str = "stream",
) -> tuple[DataStreamWriter, _DQCounterCommitter]:
    """Streaming DQ monitoring: each micro-batch contributes exactly ONE
    counter row (executor-side reduction, map-side combined), so the
    committed state grows with batch count, not data volume, and the
    folded verdicts at any point equal batch ``dq_check`` over
    everything ingested so far — exact, because integer counters are
    sum-mergeable (uniqueness is rejected up front; that belongs to the
    HLL path)."""
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    return _committed_sink(
        src, _DQCounterCommitter(out_dir, run_id, constraints), checkpoint_dir
    )


def dq_stream_verdicts(
    spark: SparkSession, out_dir: str, constraints
) -> DataFrame:
    """Fold every committed per-batch counter row into current verdicts."""
    from ocr_spark.operators.dq import dq_fold_verdicts

    return dq_fold_verdicts(
        spark.read.parquet(f"{out_dir}/data"), constraints
    )


# --- incremental SCD2 dimension maintenance ---------------------------------

def incremental_scd2(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    run_id: str = "stream",
    schema=None,
) -> tuple[DataStreamWriter, _BatchCommitter]:
    """Streaming side of the SCD2 dimension (queries_events.events_scd2):
    micro-batches of purchase events are committed as APPEND-ONLY deltas
    under the exactly-once protocol; `scd2_intervals` derives the interval
    table from the committed log at read time.

    Deliberately log-structured, not merge-structured: SCD2 intervals are
    NOT mergeable state (a late event can split or fuse islands anywhere
    in a user's history, so an interval table cannot be updated from a
    delta without that user's full event sequence), which makes an
    in-place MERGE both read-modify-write racy — the lost-update window
    _BatchCommitter exists to close — and wrong under late data. The
    event log IS the state; the interval recompute at read time is
    per-user window work over the dimension's own log, orders of
    magnitude smaller than the corpus scans this engine exists for. At
    warehouse scale the read-side fold runs as the periodic dimension
    publish job (and prunes to users touched since the last publish —
    the same fold, filtered)."""
    if schema is None:
        schema = spark.read.parquet(events_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    purchases = src.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return _committed_sink(
        purchases, _BatchCommitter(out_dir, run_id), checkpoint_dir
    )


def scd2_intervals(spark: SparkSession, out_dir: str) -> DataFrame:
    """Fold the committed purchase log into the SCD2 interval table —
    definitionally equal to batch events_scd2 over the same events."""
    from ocr_spark.queries_events import scd2_from_purchases

    return scd2_from_purchases(spark.read.parquet(f"{out_dir}/data"))


class _ReservoirCommitter(_BatchCommitter):
    """foreachBatch function: reduce the micro-batch to its ≤k-row A-ES
    candidate reservoir (queries_pipeline.reservoir_candidates) and
    commit it under the standard exactly-once protocol.

    The committed state grows with BATCH COUNT × k, never with rows —
    the streaming analogue of a per-task reservoir. Folding is the A-ES
    merge law: priorities are pure functions of the row, so top-k over
    the union of per-batch top-k's equals top-k over everything ingested
    (reservoir_totals), and a replayed batch would commit byte-identical
    candidates (idempotent like the HLL registers; the replay guard
    still keeps the layout canonical)."""

    def __init__(self, out_dir: str, run_id: str, k: int) -> None:
        super().__init__(out_dir, run_id)
        self.k = k

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ocr_spark.queries_pipeline import reservoir_candidates

        super().__call__(
            reservoir_candidates(batch_df, self.k), batch_id
        )


def incremental_reservoir(
    spark: SparkSession,
    src_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    k: int | None = None,
    run_id: str = "stream",
) -> tuple[DataStreamWriter, _ReservoirCommitter]:
    """Streaming weighted-reservoir maintenance: new parquet files under
    ``src_dir`` become micro-batches, each committing its bounded
    candidate reservoir; the current sample is reservoir_totals."""
    from ocr_spark.queries_pipeline import _RES_K

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    return _committed_sink(
        src, _ReservoirCommitter(out_dir, run_id, k or _RES_K), checkpoint_dir
    )


def reservoir_totals(
    spark: SparkSession, out_dir: str, k: int | None = None
) -> DataFrame:
    """Fold committed per-batch reservoirs to the current global sample:
    doc_id-dedup (recrawled rows carry identical priorities) then global
    top-k — one aggregation + TakeOrdered over ≤ batches × k rows."""
    from ocr_spark.queries_pipeline import _RES_K

    cands = spark.read.parquet(f"{out_dir}/data")
    return (
        cands.groupBy("doc_id")
        .agg(
            F.max("n_chars").alias("n_chars"),
            F.max("w").alias("w"),
            F.max("priority").alias("priority"),
        )
        .orderBy(F.desc("priority"), "doc_id")
        .limit(k or _RES_K)
        .select("doc_id", "n_chars", "w", "priority")
    )
