"""Join / aggregation / window / set-op operators (SURVEY.md §2 groups D-G).

Registered into the shared ``ocr_spark.queries`` registry. Cross-engine
float determinism: money aggregates run through exact bigint cents
(``round(x*100) -> sum(bigint) -> /100.0``) so Spark's partial-agg order can
never flip a bit vs DuckDB's sequential sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_spark.queries import register, t

# exact-cents helpers (see module docstring)
def _cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100, 0).cast("bigint")


def _sql_cents(col: str) -> str:
    return f"CAST(round({col} * 100, 0) AS BIGINT)"


# --- D. joins ---------------------------------------------------------------

@register(
    "join_broadcast",
    f"""
SELECT p.p_brand, count(*) AS n_lines,
  CAST(sum({_sql_cents('l.l_extendedprice')}) AS DOUBLE) / 100.0 AS sum_price
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum(_cents("l_extendedprice")).cast("double") / 100.0).alias(
                "sum_price"
            ),
        )
    )


@register(
    "join_shuffle",
    f"""
SELECT o.o_orderstatus, count(*) AS n_lines,
  CAST(sum({_sql_cents('l.l_extendedprice')}) AS DOUBLE) / 100.0 AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderstatus
""",
)
def q_join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum(_cents("l_extendedprice")).cast("double") / 100.0).alias(
                "revenue"
            ),
        )
    )


@register(
    "join_salted",
    """
SELECT s.s_name, count(*) AS n_lines,
  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_name
""",
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join (SURVEY §2 op 21): fact side gets a salt,
    the small dim side is exploded over the full salt range, then the join
    runs on (key, salt) so one hot key spreads over SALT_N tasks. The
    oracle proves result-equivalence with the plain unsalted join."""
    salt_n = 8
    li = t(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(salt_n)).cast("int")
    )
    s = (
        t(spark, sf_dir, "supplier")
        .withColumn("salt", F.explode(F.expr(f"sequence(0, {salt_n - 1})")))
        .withColumn("salt", F.col("salt").cast("int"))
    )
    return (
        li.join(s, (li.l_suppkey == s.s_suppkey) & (li.salt == s.salt))
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
        )
    )


@register(
    "join_anti",
    """
SELECT c.c_custkey, c.c_name FROM customer c
ANTI JOIN (SELECT * FROM orders WHERE o_custkey % 10 <> 3) o
  ON c.c_custkey = o.o_custkey
""",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join with a guaranteed-non-empty survivor set.

    The naive ``customer ANTI JOIN orders`` was graded green on **zero
    rows** in r01/r02/r04 (every synthetic customer has at least one
    order), so any empty-returning implementation would have passed —
    the same zero-signal class that bit sim_ann_search in r03. The right
    side is now the key-shifted orders subset ``o_custkey % 10 <> 3``:
    every customer whose key is ≡3 (mod 10) survives deterministically
    (~10% at every SF), so the hash grading carries real signal while
    the plan stays a true BroadcastHashJoin/SortMergeJoin LeftAnti with
    the subset predicate pushed into the orders scan.
    """
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 != 3)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_semi",
    """
SELECT c.c_custkey, c.c_mktsegment FROM customer c
SEMI JOIN orders o ON c.c_custkey = o.o_custkey
""",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_range",
    """
SELECT e1.user_id, count(*) AS n_follow
FROM events e1 JOIN events e2
  ON e1.user_id = e2.user_id
 AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
WHERE e1.event_type = 'error'
GROUP BY e1.user_id
""",
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join WITH an equi-key: the user_id equality lets Catalyst
    plan a hash/sort-merge join on user_id and evaluate the ts range as a
    cheap residual — never a BroadcastNestedLoopJoin. This is the shape to
    prefer whenever any equi-key exists. For the PURE non-equi case (no
    shared key) Spark's only native plan is BNLJ: O(|A|x|B|) comparisons
    plus a full broadcast of one side — unusable at web scale. The scale
    answer is the bucketized decomposition in q_join_range_bucket below."""
    e = t(spark, sf_dir, "events")
    e1 = e.filter(F.col("event_type") == "error").alias("e1")
    e2 = e.alias("e2")
    cond = (
        (F.col("e1.user_id") == F.col("e2.user_id"))
        & (F.col("e2.ts") > F.col("e1.ts"))
        & (F.col("e2.ts") <= F.col("e1.ts") + F.expr("INTERVAL 10 MINUTE"))
    )
    return (
        e1.join(e2, cond)
        .groupBy(F.col("e1.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_follow"))
    )


@register(
    "join_range_bucket",
    """
SELECT e1.event_id, count(*) AS n_follow
FROM events e1 JOIN events e2
  ON e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
WHERE e1.event_type = 'error'
GROUP BY e1.event_id
""",
)
def q_join_range_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure non-equi interval join (NO shared key — contrast q_join_range),
    decomposed so it never becomes a BroadcastNestedLoopJoin.

    Bucketize time at the interval width (10 min): any qualifying (e1, e2)
    pair with e2.ts in (e1.ts, e1.ts + 10 min] has floor(e2.ts / 600) in
    {floor(e1.ts / 600), floor(e1.ts / 600) + 1}. Expanding each probe row
    to those two candidate buckets and equi-joining on the bucket key gives
    an ordinary shuffled hash/sort-merge join with a residual range filter:
    2x duplication of the (filtered, small) probe side instead of |A| x |B|
    comparisons and a whole-side broadcast. The oracle runs the
    straightforward non-equi form, proving the decomposition exact.
    tests/test_plans.py asserts the plan contains no NestedLoop."""
    e = t(spark, sf_dir, "events")
    bkt = F.floor(F.unix_timestamp("ts") / 600)
    e1 = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e1_id"),
        F.col("ts").alias("ts1"),
        bkt.alias("bkt1"),
    )
    e1x = e1.withColumn(
        "bkt", F.explode(F.array(F.col("bkt1"), F.col("bkt1") + 1))
    ).drop("bkt1")
    e2 = e.select(F.col("ts").alias("ts2"), bkt.alias("bkt"))
    joined = e1x.join(e2, "bkt").filter(
        (F.col("ts2") > F.col("ts1"))
        & (F.col("ts2") <= F.col("ts1") + F.expr("INTERVAL 10 MINUTE"))
    )
    return joined.groupBy(F.col("e1_id").alias("event_id")).agg(
        F.count(F.lit(1)).alias("n_follow")
    )


@register(
    "join_asof",
    """
SELECT user_id, event_id AS last_event_id, event_type AS last_type
FROM (
  SELECT user_id, event_id, event_type,
    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE ts <= TIMESTAMP '2024-01-01 12:00:00'
) WHERE rn = 1
""",
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").filter(
        F.col("ts") <= F.lit("2024-01-01 12:00:00").cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
        )
    )


@register(
    "join_cross",
    """
SELECT g.thr, count(*) AS n_docs
FROM (VALUES (100), (300), (600)) AS g(thr), documents d
WHERE d.n_chars > g.thr
GROUP BY g.thr
""",
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # a SQL VALUES literal is a JVM-side LocalRelation; createDataFrame(list)
    # would plan a pickled-RDD scan needing a Python worker round trip
    grid = spark.sql("SELECT explode(array(100, 300, 600)) AS thr")
    return (
        d.crossJoin(F.broadcast(grid))
        .filter(F.col("n_chars") > F.col("thr"))
        .groupBy("thr")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- E. aggregations ---------------------------------------------------------

@register(
    "agg_basic",
    f"""
SELECT l_returnflag, l_linestatus,
  count(*) AS n,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
  CAST(sum({_sql_cents('l_extendedprice')}) AS DOUBLE) / 100.0 AS sum_price,
  CAST(sum({_sql_cents('l_discount')}) AS DOUBLE) / 100.0 / count(*) AS avg_disc,
  CAST(min(l_quantity) AS BIGINT) AS min_qty,
  CAST(max(l_quantity) AS BIGINT) AS max_qty
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
)
def q_agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
        (F.sum(_cents("l_extendedprice")).cast("double") / 100.0).alias("sum_price"),
        (
            F.sum(_cents("l_discount")).cast("double") / 100.0 / F.count(F.lit(1))
        ).alias("avg_disc"),
        F.min("l_quantity").cast("bigint").alias("min_qty"),
        F.max("l_quantity").cast("bigint").alias("max_qty"),
    )


@register(
    "agg_distinct",
    """
SELECT lang, count(DISTINCT source) AS n_sources,
       count(DISTINCT n_chars) AS n_lengths
FROM documents GROUP BY lang
""",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("n_chars").alias("n_lengths"),
    )


@register("agg_approx_distinct", None)  # approximate: rows-only driver check
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.agg(
        F.approx_count_distinct("text", rsd=0.01).alias("approx_texts"),
        F.countDistinct("text").alias("exact_texts"),
    )


@register(
    "agg_groupingsets",
    """
SELECT coalesce(lang, '<all>') AS lang, coalesce(source, '<all>') AS source,
  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY CUBE (lang, source)
""",
)
def q_agg_groupingsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    ).select(
        F.coalesce("lang", F.lit("<all>")).alias("lang"),
        F.coalesce("source", F.lit("<all>")).alias("source"),
        "n",
        "sum_chars",
    )


@register(
    "agg_collect",
    """
SELECT n_regionkey AS region_key,
  array_to_string(list_sort(list(n_name)), ',') AS nations
FROM nation GROUP BY n_regionkey
""",
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = t(spark, sf_dir, "nation")
    return n.groupBy(F.col("n_regionkey").alias("region_key")).agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations")
    )


@register(
    "agg_percentile",
    """
SELECT lang,
  CAST(round(quantile_cont(n_chars, 0.5), 4) AS DOUBLE) AS p50,
  CAST(round(quantile_cont(n_chars, 0.95), 4) AS DOUBLE) AS p95,
  CAST(round(quantile_cont(n_chars, 0.99), 4) AS DOUBLE) AS p99
FROM documents GROUP BY lang
""",
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).cast("double").alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.95)"), 4).cast("double").alias("p95"),
        F.round(F.expr("percentile(n_chars, 0.99)"), 4).cast("double").alias("p99"),
    )


@register(
    "agg_custom_pandas",
    """
SELECT source,
  CAST(round(sum(n_chars * CASE WHEN lang = 'en' THEN 2.0 ELSE 1.0 END)
    / sum(CASE WHEN lang = 'en' THEN 2.0 ELSE 1.0 END), 4) AS DOUBLE)
    AS weighted_len
FROM documents GROUP BY source
""",
)
def q_agg_custom_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF (SURVEY §2 op 32/59): weighted mean doc length,
    weight 2.0 for English docs. Sums run in int64/float64 over the whole
    group inside one pandas call -> deterministic vs the SQL oracle."""
    from ocr_spark.functions.udfs import weighted_len

    d = t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        weighted_len("n_chars", "lang").alias("weighted_len")
    )


@register(
    "udf_grouped_map",
    """
SELECT user_id, event_id, ts,
  CAST(round(value - avg(value) OVER (PARTITION BY user_id), 6) AS DOUBLE)
    AS value_centered,
  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT)
    AS seq
FROM events WHERE user_id % 20 = 0
""",
)
def q_udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (SURVEY §2 op 58): whole-group pandas
    transform — per-user mean-centering + arrival sequence. The same shape
    carries the reference's region-grouping analog when a whole document's
    blocks must be seen at once."""
    import pandas as pd

    e = t(spark, sf_dir, "events").filter(F.col("user_id") % 20 == 0)

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        out = pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "ts": pdf["ts"],
                "value_centered": (pdf["value"] - pdf["value"].mean()).round(6),
                "seq": range(1, len(pdf) + 1),
            }
        )
        return out

    return e.select("user_id", "event_id", "ts", "value").groupBy(
        "user_id"
    ).applyInPandas(
        center,
        "user_id bigint, event_id bigint, ts timestamp,"
        " value_centered double, seq int",
    )


# --- F. windows ---------------------------------------------------------------

@register(
    "win_rownum_dedup",
    """
SELECT user_id, event_id, value FROM (
  SELECT user_id, event_id, value,
    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def q_win_rownum_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "value")
    )


@register(
    "win_rank_topk",
    """
SELECT * FROM (
  SELECT lang, doc_id, n_chars,
    rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
    ntile(4) OVER w AS quartile,
    CAST(round(percent_rank() OVER w, 6) AS DOUBLE) AS prank
  FROM documents
  WINDOW w AS (PARTITION BY lang ORDER BY n_chars DESC, doc_id)
) WHERE rnk <= 10
""",
)
def q_win_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        d.select(
            "lang",
            "doc_id",
            "n_chars",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).cast("double").alias("prank"),
        )
        .filter(F.col("rnk") <= 10)
    )


@register(
    "win_laglead",
    """
SELECT event_id, user_id,
  lag(event_id, 1, -1) OVER w AS prev_id,
  lead(event_id, 1, -1) OVER w AS next_id
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def q_win_laglead(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.lag("event_id", 1, -1).over(w).alias("prev_id"),
        F.lead("event_id", 1, -1).over(w).alias("next_id"),
    )


@register(
    "win_frame_sum",
    """
SELECT event_id, user_id,
  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS moving_sum,
  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
    AS running_sum
FROM events
""",
)
def q_win_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100, 0).cast("bigint")
    )
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        (F.sum("cents").over(base.rowsBetween(-3, 0)).cast("double") / 100.0).alias(
            "moving_sum"
        ),
        (
            F.sum("cents").over(base.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double") / 100.0
        ).alias("running_sum"),
    )


# --- G. sorts / limits / set ops ----------------------------------------------

@register(
    "sort_global",
    "SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 500",
)
def q_sort_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.orderBy(F.col("n_chars").desc(), "doc_id").select(
        "doc_id", "n_chars"
    ).limit(500)


@register(
    "topk",
    "SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 10",
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.orderBy(F.col("n_chars").desc(), "doc_id").select(
        "doc_id", "n_chars"
    ).limit(10)


@register(
    "set_union",
    """
SELECT doc_id, lang FROM documents WHERE lang = 'en'
UNION ALL
SELECT doc_id, lang FROM documents WHERE n_chars < 200
""",
)
def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    a = d.filter(F.col("lang") == "en").select("doc_id", "lang")
    b = d.filter(F.col("n_chars") < 200).select("doc_id", "lang")
    return a.unionByName(b)


@register(
    "set_except",
    """
SELECT doc_id FROM documents WHERE lang = 'en'
EXCEPT ALL
SELECT doc_id FROM documents WHERE n_chars < 200
""",
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    a = d.filter(F.col("lang") == "en").select("doc_id")
    b = d.filter(F.col("n_chars") < 200).select("doc_id")
    return a.exceptAll(b)


@register(
    "set_intersect",
    """
SELECT doc_id FROM documents WHERE lang = 'en'
INTERSECT
SELECT doc_id FROM documents WHERE n_chars >= 200
""",
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    a = d.filter(F.col("lang") == "en").select("doc_id")
    b = d.filter(F.col("n_chars") >= 200).select("doc_id")
    return a.intersect(b)


# --- one-pass table profiling ---------------------------------------------------------
# The data-quality surface every warehouse ships (DESCRIBE EXTENDED /
# ANALYZE): per-column null counts, exact distinct counts, min/max and
# length stats, emitted LONG-FORM (column, metric, value) so the report
# shape is stable as columns are added. ONE scan: every metric is an
# aggregate of the same pass, partial-aggregated map-side into a single
# row, then unpivoted with stack() — a map-only reshape, no second
# Exchange. Exact distincts make it 3 aggregate sub-plans under one
# union in Spark (expand), still linear; at 100 TB swap the exact
# distincts for approx_count_distinct in the same frame (documented knob
# — the graded entry keeps exact so the oracle is exact).

_PROFILE_METRICS_SQL = """
SELECT 'doc_id' AS col, 'n_null' AS metric,
       count(*) - count(doc_id) AS value FROM documents
UNION ALL SELECT 'doc_id', 'n_distinct', count(DISTINCT doc_id) FROM documents
UNION ALL SELECT 'doc_id', 'min', min(doc_id) FROM documents
UNION ALL SELECT 'doc_id', 'max', max(doc_id) FROM documents
UNION ALL SELECT 'text', 'n_null', count(*) - count(text) FROM documents
UNION ALL SELECT 'text', 'n_distinct', count(DISTINCT text) FROM documents
UNION ALL SELECT 'text', 'min_len', min(CAST(length(text) AS BIGINT)) FROM documents
UNION ALL SELECT 'text', 'max_len', max(CAST(length(text) AS BIGINT)) FROM documents
UNION ALL SELECT 'text', 'sum_len', CAST(sum(length(text)) AS BIGINT) FROM documents
UNION ALL SELECT 'lang', 'n_null', count(*) - count(lang) FROM documents
UNION ALL SELECT 'lang', 'n_distinct', count(DISTINCT lang) FROM documents
UNION ALL SELECT 'source', 'n_null', count(*) - count(source) FROM documents
UNION ALL SELECT 'source', 'n_distinct', count(DISTINCT source) FROM documents
UNION ALL SELECT 'n_chars', 'n_null', count(*) - count(n_chars) FROM documents
UNION ALL SELECT 'n_chars', 'min', min(n_chars) FROM documents
UNION ALL SELECT 'n_chars', 'max', max(n_chars) FROM documents
UNION ALL SELECT 'n_chars', 'sum', CAST(sum(n_chars) AS BIGINT) FROM documents
UNION ALL SELECT '*', 'n_rows', count(*) FROM documents
"""


@register("profile_table", _PROFILE_METRICS_SQL)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of `documents` → (col, metric, value).
    The Spark side computes every metric in ONE agg over one scan and
    unpivots with stack(); the oracle spells the same numbers as a
    UNION ALL of scalar aggregates (clarity over economy — the driver
    only compares values)."""
    d = t(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    row = d.agg(
        (n - F.count("doc_id")).alias("doc_id_nn"),
        F.countDistinct("doc_id").alias("doc_id_nd"),
        F.min("doc_id").alias("doc_id_min"),
        F.max("doc_id").alias("doc_id_max"),
        (n - F.count("text")).alias("text_nn"),
        F.countDistinct("text").alias("text_nd"),
        F.min(F.length("text").cast("bigint")).alias("text_minl"),
        F.max(F.length("text").cast("bigint")).alias("text_maxl"),
        F.sum(F.length("text").cast("bigint")).alias("text_suml"),
        (n - F.count("lang")).alias("lang_nn"),
        F.countDistinct("lang").alias("lang_nd"),
        (n - F.count("source")).alias("source_nn"),
        F.countDistinct("source").alias("source_nd"),
        (n - F.count("n_chars")).alias("nc_nn"),
        F.min("n_chars").alias("nc_min"),
        F.max("n_chars").alias("nc_max"),
        F.sum("n_chars").alias("nc_sum"),
        n.alias("n_rows"),
    )
    return row.selectExpr(
        """stack(18,
        'doc_id', 'n_null', CAST(doc_id_nn AS BIGINT),
        'doc_id', 'n_distinct', CAST(doc_id_nd AS BIGINT),
        'doc_id', 'min', CAST(doc_id_min AS BIGINT),
        'doc_id', 'max', CAST(doc_id_max AS BIGINT),
        'text', 'n_null', CAST(text_nn AS BIGINT),
        'text', 'n_distinct', CAST(text_nd AS BIGINT),
        'text', 'min_len', text_minl,
        'text', 'max_len', text_maxl,
        'text', 'sum_len', text_suml,
        'lang', 'n_null', CAST(lang_nn AS BIGINT),
        'lang', 'n_distinct', CAST(lang_nd AS BIGINT),
        'source', 'n_null', CAST(source_nn AS BIGINT),
        'source', 'n_distinct', CAST(source_nd AS BIGINT),
        'n_chars', 'n_null', CAST(nc_nn AS BIGINT),
        'n_chars', 'min', CAST(nc_min AS BIGINT),
        'n_chars', 'max', CAST(nc_max AS BIGINT),
        'n_chars', 'sum', CAST(nc_sum AS BIGINT),
        '*', 'n_rows', CAST(n_rows AS BIGINT)
        ) AS (col, metric, value)"""
    )


# --- correlated LATERAL subquery join -------------------------------------------------

_LATERAL_SQL = """
SELECT n.n_name, ls.s_name, ls.acctbal_cents
FROM nation n
JOIN LATERAL (
  SELECT s_name, CAST(round(s_acctbal * 100, 0) AS BIGINT) AS acctbal_cents
  FROM supplier s
  WHERE s.s_nationkey = n.n_nationkey
  ORDER BY acctbal_cents DESC, s_name
  LIMIT 2
) AS ls ON true
ORDER BY n.n_name, ls.acctbal_cents DESC, ls.s_name
"""


@register("join_lateral", _LATERAL_SQL)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — per-nation top-2 suppliers by
    integer-cents balance, IDENTICAL query text on both engines (the
    third SQL-surface portability entry after the TPC-H suite and the
    UDTF's LATERAL table function). Spark must decorrelate the inner
    ORDER BY ... LIMIT to a WindowGroupLimit (rank pushed below the
    shuffle, partial + final) feeding a hash join — never a per-outer-row
    re-execution; pinned in tests/test_plans.py. The unique s_name
    tie-break makes the per-group limit deterministic."""
    for name in ("nation", "supplier"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_LATERAL_SQL)


# --- ROLLUP + GROUPING() --------------------------------------------------------------

_ROLLUP_SQL = """
SELECT lang, source,
  CAST(grouping(lang) * 2 + grouping(source) AS BIGINT) AS gid,
  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY ROLLUP (lang, source)
ORDER BY gid, lang, source
"""


@register("agg_rollup", _ROLLUP_SQL)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (leaf / per-lang / grand total) with GROUPING()
    disambiguating real NULL keys from rolled-up ones — the prefix-
    hierarchy sibling of agg_groupingsets' CUBE. One expand + one
    partial/final aggregate pair; the BIGINT gid is portable across
    engines (Spark's raw GROUPING__ID bit order is not part of the SQL
    standard, grouping() per column is)."""
    docs = t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql(_ROLLUP_SQL)
