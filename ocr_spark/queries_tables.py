"""Registry entries for the snapshot table layer (tables_snapshot.py):
time travel and rollback as driver-graded, value-hash-oracled queries.

Each entry builds a real snapshot table in a scratch dir from the
documents table (deterministic content), exercises the commit protocol —
create → append → compact / rollback — through the REAL code path, and
returns rows read back through snapshot resolution. The DuckDB oracle
recomputes the expected contents from the documents table alone, so the
value hash grades the whole chain: atomic commits, file-list resolution,
time-travel isolation, compaction data-identity, rollback semantics.
Crash windows, expiry, and orphan reclamation are pytest-gated
(tests/test_tables_snapshot.py) — by design, like the other sinks.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark import tables_snapshot as snap
from ocr_spark.queries import register, t


def _docs_halves(spark: SparkSession, sf_dir: str):
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("text_md5")
    )
    return (
        d.where(F.col("doc_id") % 2 == 0),
        d.where(F.col("doc_id") % 2 == 1),
    )


@register(
    "table_snap_timetravel",
    """
SELECT doc_id, md5(text) AS text_md5, 'v1' AS at FROM documents
WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, md5(text) AS text_md5, 'current' AS at FROM documents
""",
)
def q_table_snap_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """create(evens) → append(odds) → compact, then read v1 (time travel
    must still see ONLY the evens, from the original files) and CURRENT
    (the compacted rewrite must be data-identical to evens+odds)."""
    evens, odds = _docs_halves(spark, sf_dir)
    root = os.path.join(
        tempfile.mkdtemp(prefix="ocr-spark-snaptbl-"), "tbl"
    )
    snap.create(evens, root)
    snap.append(odds, root)
    snap.compact(spark, root, target_file_bytes=1 << 20)
    v1 = snap.read(spark, root, version=1).withColumn("at", F.lit("v1"))
    cur = snap.read(spark, root).withColumn("at", F.lit("current"))
    return v1.unionByName(cur)


@register(
    "table_snap_merge",
    """
SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN md5(text || '!') ELSE md5(text) END
    AS text_md5
FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, md5(text || '+') AS text_md5
FROM documents WHERE doc_id % 7 = 0
""",
)
def q_table_snap_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE: create(documents), then upsert a source that
    UPDATES every doc_id % 3 == 0 row (payload recomputed over text||'!')
    and INSERTS a shifted-key row per doc_id % 7 == 0. CURRENT must read
    the merged contents exactly — update-in-place, untouched rows
    preserved, inserts present."""
    d = t(spark, sf_dir, "documents")
    base = d.select("doc_id", F.md5("text").alias("text_md5"))
    updates = (
        d.where(F.col("doc_id") % 3 == 0)
        .select(
            "doc_id",
            F.md5(F.concat(F.col("text"), F.lit("!"))).alias("text_md5"),
        )
    )
    inserts = (
        d.where(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.md5(F.concat(F.col("text"), F.lit("+"))).alias("text_md5"),
        )
    )
    root = os.path.join(
        tempfile.mkdtemp(prefix="ocr-spark-snaptbl-"), "tbl"
    )
    snap.create(base.repartition(4), root)
    snap.merge(spark, updates.unionByName(inserts), root, "doc_id")
    return snap.read(spark, root)


@register(
    "table_snap_evolve",
    """
SELECT doc_id, md5(text) AS text_md5, 'xx' AS lang
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, md5(text) AS text_md5, lang
FROM documents WHERE doc_id % 2 = 1
""",
)
def q_table_snap_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution without rewrites: create(evens) without a lang
    column, add_column(lang, default='xx') — metadata-only — then append
    the odds WITH real lang values. The read must fill 'xx' exactly for
    the pre-evolution files and pass the real values through for the
    post-evolution ones (per-file column sets, not global mergeSchema)."""
    d = t(spark, sf_dir, "documents")
    evens = d.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.md5("text").alias("text_md5")
    )
    odds = d.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.md5("text").alias("text_md5"), "lang"
    )
    root = os.path.join(
        tempfile.mkdtemp(prefix="ocr-spark-snaptbl-"), "tbl"
    )
    snap.create(evens, root)
    snap.add_column(root, "lang", "string", default="xx")
    snap.append(odds, root)
    return snap.read(spark, root)


@register(
    "table_snap_rollback",
    """
SELECT doc_id, md5(text) AS text_md5,
  CAST(3 AS BIGINT) AS n_versions
FROM documents WHERE doc_id % 2 = 0
""",
)
def q_table_snap_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """create(evens) → append(odds) → rollback(to v1): CURRENT must read
    exactly the evens again, and history must stay linear (3 versions —
    rollback commits forward, it never rewrites the log)."""
    evens, odds = _docs_halves(spark, sf_dir)
    root = os.path.join(
        tempfile.mkdtemp(prefix="ocr-spark-snaptbl-"), "tbl"
    )
    snap.create(evens, root)
    snap.append(odds, root)
    snap.rollback(root, to_version=1)
    n_versions = len(snap.versions(root))
    return snap.read(spark, root).withColumn(
        "n_versions", F.lit(n_versions).cast("bigint")
    )


@register(
    "table_snap_cdc",
    """
SELECT doc_id, md5(text) AS text_md5, 'D' AS _op
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT doc_id, md5(text || '!') AS text_md5, 'I' AS _op
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT doc_id + 1000000 AS doc_id, md5(text || '+') AS text_md5, 'I' AS _op
FROM documents WHERE doc_id % 7 = 0
""",
)
def q_table_snap_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC through the REAL chain: create(base) → merge
    (update %3, insert shifted %7) → changes(v1, v2). The changelog must
    be EXACTLY the update old/new image pairs plus the inserts — the
    merge's kept rows were rewritten into new files but must cancel via
    the multiset diff, and the untouched files are never read at all
    (see tables_snapshot.changes). The oracle derives the expected
    changelog from doc_id arithmetic alone."""
    d = t(spark, sf_dir, "documents")
    base = d.select("doc_id", F.md5("text").alias("text_md5"))
    updates = d.where(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.md5(F.concat(F.col("text"), F.lit("!"))).alias("text_md5"),
    )
    inserts = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.md5(F.concat(F.col("text"), F.lit("+"))).alias("text_md5"),
    )
    root = os.path.join(
        tempfile.mkdtemp(prefix="ocr-spark-snaptbl-"), "tbl"
    )
    snap.create(base.repartition(4), root)
    snap.merge(spark, updates.unionByName(inserts), root, "doc_id")
    return snap.changes(spark, root, from_version=1)


def _zorder_oracle() -> str:
    from ocr_spark.functions.zorder import zvalue_duck

    # mirror with_zvalue exactly: per-column min/max over the projected
    # frame, order-preserving 16-bit scale, then the bit interleave
    z = zvalue_duck(["q0", "q1"], 16)
    return f"""
WITH _p AS (
  SELECT doc_id, doc_id % 256 AS x, n_chars % 1000 AS y FROM documents
),
_r AS (
  SELECT min(x) AS lox, max(x) AS hix, min(y) AS loy, max(y) AS hiy
  FROM _p
),
_q AS (
  SELECT doc_id,
         CAST((x - lox) * 65535 // greatest(1, hix - lox) AS BIGINT) AS q0,
         CAST((y - loy) * 65535 // greatest(1, hiy - loy) AS BIGINT) AS q1
  FROM _p, _r
)
SELECT doc_id, {z} AS zval FROM _q
"""


@register("table_zorder_key", _zorder_oracle())
def q_table_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The z-order layout key through the REAL compaction path
    (functions/zorder.with_zvalue): per-column min/max scaling + the
    unrolled Morton interleave, every key under the driver hash. The
    layout EFFECT — read_where pruning on both columns after
    compact(zorder_by=...) — is pinned in tests/test_zorder.py; this
    entry pins the arithmetic that produces it."""
    from ocr_spark.functions.zorder import with_zvalue

    d = t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "doc_id % 256 AS x", "n_chars % 1000 AS y"
    )
    return with_zvalue(d, ["x", "y"]).selectExpr(
        "doc_id", "_z AS zval"
    )


@register(
    "table_mv_maintain",
    """
-- the maintained MV must equal the aggregate recomputed from the final
-- table state: base minus the %3 updates' old images plus their new
-- images plus the shifted %7 inserts, all derivable from doc_id math
WITH _final AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN length(text) + 1
              ELSE length(text) END AS n
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000, length(text) + 1 FROM documents
  WHERE doc_id % 7 = 0
)
SELECT doc_id % 10 AS grp,
       count(*) AS n_rows,
       CAST(sum(n) AS BIGINT) AS sum_len
FROM _final GROUP BY 1
""",
)
def q_table_mv_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance from the CDC feed: an
    aggregate MV (count + sum of text length per doc_id%10 group) is
    built ONCE from the base table, then kept current by applying ONLY
    the changes() delta of a merge — +I images, −D images — never
    rescanning the table. The graded value is the maintained MV, which
    the oracle recomputes from the FINAL state arithmetically: any error
    in the changelog (a missed old image, a double-counted carried file)
    shows up as a wrong group total.

    Scale: the delta apply is |changes| rows aggregated and unioned with
    the ≤10-row MV — at 100 TB the base is touched once at MV creation
    and never again; this is the consumer read_appended/changes exist
    for. ('!' appends: updated rows have length+1 — the arithmetic the
    oracle replays.)"""
    d = t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", F.length("text").cast("bigint").alias("n")
    )
    updates = d.where(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        (F.length("text") + 1).cast("bigint").alias("n"),
    )
    inserts = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        (F.length("text") + 1).cast("bigint").alias("n"),
    )
    root = os.path.join(
        tempfile.mkdtemp(prefix="ocr-spark-snapmv-"), "tbl"
    )
    snap.create(base.repartition(4), root)
    # the MV as of v1 (the ONLY full scan in this plan's lifetime)
    mv = (
        snap.read(spark, root)
        .groupBy((F.col("doc_id") % 10).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n").alias("sum_len"),
        )
    )
    snap.merge(spark, updates.unionByName(inserts), root, "doc_id")
    delta = snap.changes(spark, root, from_version=1)
    signed = delta.select(
        (F.col("doc_id") % 10).alias("grp"),
        F.when(F.col("_op") == "I", F.lit(1))
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("w"),
        F.col("n"),
    )
    patch = signed.groupBy("grp").agg(
        F.sum("w").alias("n_rows"),
        F.sum(F.col("w") * F.col("n")).alias("sum_len"),
    )
    return (
        mv.unionByName(patch)
        .groupBy("grp")
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.sum("sum_len").cast("bigint").alias("sum_len"),
        )
    )


# --- bucketed co-located join as a driver row (round 4 close) ------------------------
# write_bucketed/read_bucketed had plan + equality pins in
# tests/test_tables.py since round 3; this row puts the CO-LOCATED JOIN
# RESULT under the driver's value hash: both sides materialize bucketed
# on the join key (shuffle paid once at write), the join runs on an
# isolated newSession with broadcast disabled (the 100 TB fact-fact
# shape; conf non-leak like join_runtime_bloom), and the oracle
# recomputes the join + aggregation from the RAW parquet — any
# bucket-routing error (a row hashed into the wrong bucket joins
# against nothing) breaks the revenue totals.

_BUCKETED_SQL = """
SELECT o.o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_items,
  CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
       AS BIGINT) AS rev_c
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1
"""


@register("join_bucketed", _BUCKETED_SQL)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact-fact join over bucketed materializations: zero
    Exchange at join time (pinned in tests/test_tables.py), graded here
    end-to-end against a raw-parquet recomputation."""
    import tempfile

    from ocr_spark.tables import read_bucketed, write_bucketed

    s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    work = tempfile.mkdtemp(prefix="ocr-spark-bucketed-")
    li = t(s2, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    od = t(s2, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed(
        li, "reg_bt_lineitem", f"{work}/li", ("l_orderkey",), 8,
        sort_cols=("l_orderkey",),
    )
    write_bucketed(
        od, "reg_bt_orders", f"{work}/od", ("o_orderkey",), 8,
        sort_cols=("o_orderkey",),
    )
    a = read_bucketed(s2, "reg_bt_lineitem")
    b = read_bucketed(s2, "reg_bt_orders")
    return (
        a.join(b, a["l_orderkey"] == b["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.expr(
                "CAST(sum(CAST(round(l_extendedprice * 100, 0)"
                " AS BIGINT)) AS BIGINT)"
            ).alias("rev_c"),
        )
    )


# --- branches & tags: write-audit-publish (round 4 close) ---------------------------
# The WAP workflow end-to-end through the REAL ref machinery: create the
# table, branch "audit", append staged rows ON THE BRANCH, prove CURRENT
# isolation (a read before publish sees only the base — emitted as the
# @PREPUB_N marker row), pin a TAG at the pre-publish version (@TAG_N
# re-reads through the tag AFTER publish and must still see the base
# count — tag immutability under the hash), then publish (atomic
# fast-forward) and emit the final rows. The oracle rebuilds everything
# from doc_id arithmetic: any isolation leak, ref misresolution or
# publish error changes a marker or a row.

_WAP_SQL = """
SELECT doc_id, lang,
  CASE WHEN doc_id % 3 = 0 THEN 'base' ELSE 'branch' END AS phase
FROM documents WHERE doc_id % 3 <= 1
UNION ALL
SELECT CAST(count(*) AS BIGINT), NULL, '@PREPUB_N'
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT CAST(count(*) AS BIGINT), NULL, '@TAG_N'
FROM documents WHERE doc_id % 3 = 0
"""


@register("table_snap_wap", _WAP_SQL)
def q_table_snap_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish over snapshot branches/tags (block comment)."""
    from ocr_spark import tables_snapshot as ts

    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    base = d.filter(F.col("doc_id") % 3 == 0)
    staged = d.filter(F.col("doc_id") % 3 == 1)
    root = tempfile.mkdtemp(prefix="ocr-spark-wap-") + "/tbl"
    v1 = ts.create(base, root)
    ts.create_branch(root, "audit")
    ts.create_tag(root, "prepub", at=v1)
    ts.append_branch(staged, root, "audit")
    prepub_n = ts.read(spark, root).count()  # CURRENT: base only
    ts.publish_branch(root, "audit")
    tag_n = ts.read(spark, root, version=ts.tag_version(root, "prepub")).count()
    final = ts.read(spark, root).select(
        "doc_id",
        "lang",
        F.expr(
            "CASE WHEN doc_id % 3 = 0 THEN 'base' ELSE 'branch' END"
        ).alias("phase"),
    )
    markers = spark.createDataFrame(
        [(prepub_n, None, "@PREPUB_N"), (tag_n, None, "@TAG_N")],
        "doc_id long, lang string, phase string",
    )
    return final.unionByName(markers)
