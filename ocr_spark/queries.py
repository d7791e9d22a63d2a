"""The driver-verification query registry (SURVEY.md §2, __spark_entry__.py).

Each entry pairs a PySpark DataFrame query with the ANSI-SQL oracle DuckDB
runs on the same parquet tables. The driver compares row-count + schema +
order-insensitive value hash at sf0.01; tests/test_oracle.py replicates that
comparison locally and strictly.

Cross-engine determinism rules used throughout (SURVEY.md §3.3):

- every computed column is aliased identically on both sides;
- floating-point aggregates go through exact integer/bigint arithmetic
  (``round(x*100) -> sum bigint -> /100.0``) so partial-aggregation order
  can never change a bit;
- all window orderings carry a unique tie-break column;
- hashes use md5/sha256 (identical hex in Spark and DuckDB) — never
  engine-specific hash functions.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_spark import spec

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn
    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _sql_list(words) -> str:
    items = ", ".join("'" + w.replace("'", "''") + "'" for w in sorted(words))
    return f"[{items}]"


def _spark_array(words) -> str:
    items = ", ".join("'" + w.replace("'", "''") + "'" for w in sorted(words))
    return f"array({items})"


EN_STOP_SQL = _sql_list(spec.STOPWORDS["en"])
EN_STOP_SPARK = _spark_array(spec.STOPWORDS["en"])

# stopword list resolver keyed on the row's lang (both dialects)
_LANG_CASE_SQL = "CASE " + " ".join(
    f"WHEN lang = '{lg}' THEN {_sql_list(ws)}" for lg, ws in spec.STOPWORDS.items()
) + f" ELSE {EN_STOP_SQL} END"
# Spark side uses a constant map literal instead of a CASE chain: one foldable
# expression + an O(1) per-row lookup, instead of N branches each constructing
# a ~100-element array (the CASE form measured 10x slower at sf0.1)
_STOPMAP_SPARK = "map(" + ", ".join(
    f"'{lg}', {_spark_array(ws)}" for lg, ws in spec.STOPWORDS.items()
) + ")"
_LANG_CASE_SPARK = (
    f"coalesce(element_at({_STOPMAP_SPARK}, lang), {EN_STOP_SPARK})"
)

# ---------------------------------------------------------------------------
# Flagship: end-to-end extraction with a full SQL oracle (SURVEY §2 op 11-17).
#
# Wraps documents.text into a 3-block HTML page (nav boilerplate / one content
# paragraph prefixed with stopword-rich filler / footer boilerplate), runs the
# REAL extraction pipeline (mapInArrow HTML parse -> classify -> smooth ->
# assemble), and the oracle recomputes SPEC.md §2 semantics directly in SQL:
# nav and footer have link_density > 0.33 -> boilerplate; the paragraph is
# content iff text_len >= 20 and stopword_density >= 0.30 (its link_density
# is 0 and its only edge neighbors are bad, so smoothing reduces to exactly
# that predicate).
# ---------------------------------------------------------------------------

_PREFIX_UNIT = "the is a of to in and it with for "


@register(
    "extract_wrapped",
    f"""
WITH feats AS (
  SELECT doc_id,
    trim(regexp_replace(
      repeat('{_PREFIX_UNIT}',
             greatest(1, CAST(round(n_chars / 60.0, 0) AS INT))) || text,
      '\\s+', ' ', 'g')) AS ptext
  FROM documents
), c AS (
  SELECT doc_id, ptext,
    length(ptext) AS tl,
    len(string_split(ptext, ' ')) AS nw,
    len(list_filter(string_split(ptext, ' '),
        w -> list_contains({EN_STOP_SQL},
                           trim(lower(w), '.,;:!?"''()[]{{}}')))) AS ns
  FROM feats
), r AS (
  SELECT doc_id,
    CASE WHEN tl >= 20 AND ns * 1.0 / nw >= 0.30 THEN ptext ELSE '' END
      AS extracted_text
  FROM c
)
SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
       extracted_text,
       sha256(extracted_text) AS text_sha256,
       3 AS n_blocks,
       CASE WHEN extracted_text = '' THEN 0 ELSE 1 END AS n_content_blocks
FROM r
""",
)
def q_extract_wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.operators.extract import extract_pages

    docs = t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit('<html><body><nav><a href="/a">one link</a> '
                      '<a href="/b">two link</a></nav><p>'),
                F.expr(
                    f"repeat('{_PREFIX_UNIT}',"
                    " greatest(1, CAST(round(n_chars / 60.0, 0) AS INT)))"
                ),
                F.col("text"),
                F.lit('</p><footer><a href="/t">terms</a> c</footer>'
                      "</body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        F.col("text"),
        F.lit("en").alias("lang"),
    )
    ex = extract_pages(pages)
    return ex.select(
        "url",
        "extracted_text",
        "text_sha256",
        F.col("n_blocks").cast("int").alias("n_blocks"),
        F.col("n_content_blocks").cast("int").alias("n_content_blocks"),
    )


# --- A. scans --------------------------------------------------------------

@register(
    "scan_counts",
    " UNION ALL ".join(
        f"SELECT '{tb}' AS tbl, count(*) AS n FROM {tb}" for tb in TABLES
    ),
)
def q_scan_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for tb in TABLES:
        d = t(spark, sf_dir, tb).agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(tb).alias("tbl"), "n"
        )
        out = d if out is None else out.unionByName(d)
    return out


@register("gen_pages", None)  # deterministic generator: rows-only driver check
def q_gen_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 op 3: seeded synthetic Common-Crawl-style pages, pure column
    expressions (no external data, no per-row Python)."""
    from ocr_spark.gen import bench_pages

    p = bench_pages(spark, 2000)
    return p.select(
        "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.octet_length("html").alias("n_bytes"),
        F.sha2(F.coalesce(F.col("html"), F.lit(b"")), 256).alias("html_sha256"),
        "lang",
    )


@register("scan_pages", None)  # table-layer round trip: rows-only driver check
def q_scan_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 ops 1+4: write a pages table through the manifest-layer
    layout and read it back with the spec'd schema."""
    import tempfile

    from ocr_spark.gen import bench_pages
    from ocr_spark.operators.runner import read_pages

    path = tempfile.mkdtemp(prefix="ocr-spark-scan-pages-") + "/pages"
    bench_pages(spark, 500).write.mode("overwrite").parquet(path)
    p = read_pages(spark, path)
    return p.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length("html")).alias("bytes"),
    )


_TUMBLING_SQL = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start,
       time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS win_end,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2
"""


@register("stream_tumbling_counts", _TUMBLING_SQL)
def q_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 op 52 as a driver-visible query, via the scalable pattern:
    incremental rollup through ``foreachBatch``. Each micro-batch appends its
    PARTIAL per-window counts to a batch-scoped parquet location (no
    unbounded streaming state, no complete-mode/memory-sink driver
    materialization), and one batch aggregation compacts the partials —
    equal to the batch ``window()`` agg no matter how the availableNow drain
    split micro-batches. Equality with the batch agg is asserted in
    tests/test_streaming.py for the pages pipeline; round-4 close
    upgrades this from rows-only to a VALUE-HASH oracle (DuckDB
    time_bucket — Spark's window() is epoch-aligned exactly like it),
    the same promotion stream_dedup_minhash got earlier in the round."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F2

    # the file stream source requires a DIRECTORY of files
    work = tempfile.mkdtemp(prefix="ocr-spark-stream-q-")
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir)
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src_dir, "events.parquet"))
    out_dir = os.path.join(work, "partials")

    def commit(bdf: DataFrame, bid: int) -> None:
        (
            bdf.groupBy(F2.window("ts", "1 hour").alias("win"))
            .agg(F2.count(F2.lit(1)).alias("n_part"))
            .select(
                F2.col("win.start").alias("win_start"),
                F2.col("win.end").alias("win_end"),
                "n_part",
            )
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"batch_id={bid}"))
        )

    q = (
        spark.readStream.schema(t(spark, sf_dir, "events").schema)
        .parquet(src_dir)
        .writeStream.foreachBatch(commit)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .groupBy("win_start", "win_end")
        .agg(F2.sum("n_part").alias("n"))
    )


def _stream_dedup_minhash_oracle() -> str:
    # batch-equivalent restatement of the streaming kept counts (round-4
    # upgrade from rows-only): batch 0 keeps the within-batch star-pass
    # survivors (rep == doc_id) plus every signature-less doc (< 3 words →
    # no shingles → nothing to band); batch 1 is an exact recrawl, so every
    # BANDED star survivor matches its own batch-0 band keys in the store
    # and is suppressed — only the signature-less docs survive again.
    # (Resolved lazily via _LAZY_ORACLES: queries_textml imports this
    # module for @register, so importing it back at module scope here
    # would be circular.)
    from ocr_spark.queries_textml import (
        _bands_sql,
        _minhash_sql_base,
        NUM_PERMS,
    )

    return (
        _minhash_sql_base(NUM_PERMS)
        + _bands_sql()
        + """
, bm AS (SELECT bi, band, min(doc_id) AS bmin FROM bands GROUP BY bi, band)
, rep AS (
  SELECT b.doc_id, min(bm.bmin) AS rep
  FROM bands b JOIN bm ON b.bi = bm.bi AND b.band = bm.band
  GROUP BY b.doc_id
)
, nosig AS (
  SELECT count(*) AS n FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM sig)
)
, keep1 AS (SELECT count(*) AS n FROM rep WHERE rep = doc_id)
SELECT CAST(0 AS INTEGER) AS batch_seq,
  CAST((SELECT n FROM nosig) + (SELECT n FROM keep1) AS BIGINT) AS rows_kept
UNION ALL
SELECT CAST(1 AS INTEGER) AS batch_seq,
  CAST((SELECT n FROM nosig) AS BIGINT) AS rows_kept
"""
    )


@register("stream_dedup_minhash", None)  # oracle via _LAZY_ORACLES below
def q_stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup suppression as a driver-visible query: the
    documents table arrives as TWO identical micro-batches
    (maxFilesPerTrigger=1 over two copies of the file); the first batch
    keeps its within-batch star-pass survivors, the second — an exact
    recrawl of the whole corpus — is suppressed entirely against the
    band-key store (signature-less docs, which band nowhere, survive both
    waves). Returns one (batch_seq, rows_kept) row per micro-batch from
    the exactly-once manifest; deterministic regardless of which copy the
    file source picks first. VALUE-checked against a batch-equivalent
    DuckDB oracle (round-4 upgrade from rows-only); semantics + crash
    windows pinned in tests/test_streaming.py."""
    import os
    import shutil
    import tempfile

    from ocr_spark.streaming.incremental import incremental_dedup_minhash

    work = tempfile.mkdtemp(prefix="ocr-spark-stream-mh-")
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir)
    for i in (1, 2):
        shutil.copy(
            f"{sf_dir}/documents.parquet",
            os.path.join(src_dir, f"wave{i}.parquet"),
        )
    docs = (
        spark.readStream.schema(t(spark, sf_dir, "documents").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .select("doc_id", "text")
    )
    writer, committer = incremental_dedup_minhash(
        docs, os.path.join(work, "out"), os.path.join(work, "ckpt")
    )
    writer.trigger(availableNow=True).start().awaitTermination()
    recs = committer.manifest.completed_parts()
    rows = [(seq, recs[bid]["rows"]) for seq, bid in enumerate(sorted(recs))]
    return spark.createDataFrame(rows, "batch_seq int, rows_kept long")


def _stream_dedup_cc_oracle() -> str:
    # batch-equivalent kept counts for the full_cc streaming mode: batch 0
    # keeps one doc per CONNECTED COMPONENT of the band graph (recursive
    # reachability, the same oracle device as dedup_cc) plus every
    # signature-less doc; batch 1 — an exact recrawl — keeps only the
    # signature-less docs (the store now carries the band keys of ALL seen
    # docs, so every banded doc matches). Lazy via _LAZY_ORACLES
    # (circular import, same as stream_dedup_minhash).
    from ocr_spark.queries_textml import (
        _bands_sql,
        _minhash_sql_base,
        NUM_PERMS,
    )

    return (
        _minhash_sql_base(NUM_PERMS).replace(
            "WITH w AS", "WITH RECURSIVE w AS", 1
        )
        + _bands_sql()
        + """
, edges AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM bands a JOIN bands b
    ON a.bi = b.bi AND a.band = b.band AND a.doc_id <> b.doc_id
),
reach AS (
  SELECT doc_id, doc_id AS r FROM sig
  UNION
  SELECT e.dst AS doc_id, reach.r
  FROM reach JOIN edges e ON e.src = reach.doc_id
),
rep AS (SELECT doc_id, min(r) AS rep FROM reach GROUP BY doc_id),
nosig AS (
  SELECT count(*) AS n FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM sig)
),
keep1 AS (SELECT count(*) AS n FROM rep WHERE rep = doc_id)
SELECT CAST(0 AS INTEGER) AS batch_seq,
  CAST((SELECT n FROM nosig) + (SELECT n FROM keep1) AS BIGINT) AS rows_kept
UNION ALL
SELECT CAST(1 AS INTEGER) AS batch_seq,
  CAST((SELECT n FROM nosig) AS BIGINT) AS rows_kept
"""
    )


@register("stream_dedup_cc", None)  # oracle via _LAZY_ORACLES below
def q_stream_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full_cc streaming suppressor as a driver-visible query (round
    4): same two-wave drive as stream_dedup_minhash but with
    ``full_cc=True`` — within-batch TRUE connected components and an
    all-docs band-key store, so the kept counts equal the batch CC
    decision: one keeper per component + signature-less docs in wave 1,
    signature-less docs only in wave 2. Oracle: DuckDB recursive-CTE
    reachability (the dedup_cc device) restated as per-batch counts."""
    import os
    import shutil
    import tempfile

    from ocr_spark.streaming.incremental import incremental_dedup_minhash

    work = tempfile.mkdtemp(prefix="ocr-spark-stream-cc-")
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir)
    for i in (1, 2):
        shutil.copy(
            f"{sf_dir}/documents.parquet",
            os.path.join(src_dir, f"wave{i}.parquet"),
        )
    docs = (
        spark.readStream.schema(t(spark, sf_dir, "documents").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .select("doc_id", "text")
    )
    writer, committer = incremental_dedup_minhash(
        docs, os.path.join(work, "out"), os.path.join(work, "ckpt"),
        full_cc=True,
    )
    writer.trigger(availableNow=True).start().awaitTermination()
    recs = committer.manifest.completed_parts()
    rows = [(seq, recs[bid]["rows"]) for seq, bid in enumerate(sorted(recs))]
    return spark.createDataFrame(rows, "batch_seq int, rows_kept long")


# --- B. projection / filter / derivation ------------------------------------

@register(
    "project_prune",
    "SELECT doc_id, lang FROM documents WHERE doc_id % 7 = 0",
)
def q_project_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", "lang")
    )


@register(
    "filter_pred",
    "SELECT doc_id, n_chars FROM documents WHERE lang = 'en' AND n_chars > 100",
)
def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.filter((F.col("lang") == "en") & (F.col("n_chars") > 100)).select(
        "doc_id", "n_chars"
    )


@register(
    "derive_host",
    """
SELECT doc_id,
  regexp_extract('https://' || source || '.example.com/d/' || CAST(doc_id AS VARCHAR),
                 'https?://([^/]+)/', 1) AS host,
  regexp_extract('https://' || source || '.example.com/d/' || CAST(doc_id AS VARCHAR),
                 'https?://[^/]+(/.*)$', 1) AS path
FROM documents
""",
)
def q_derive_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").withColumn(
        "url",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
        ),
    )
    return d.select(
        "doc_id",
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
    )


@register(
    "derive_hashes",
    "SELECT doc_id, md5(text) AS text_md5, sha256(text) AS text_sha256 "
    "FROM documents",
)
def q_derive_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.col("text")).alias("text_md5"),
        F.sha2(F.col("text"), 256).alias("text_sha256"),
    )


# --- C. extraction-core analogs on driver tables -----------------------------

@register(
    "explode_blocks",
    """
SELECT doc_id,
  unnest(generate_series(0, len(string_split(text, ' ')) - 1)) AS pos,
  unnest(string_split(text, ' ')) AS word
FROM documents WHERE doc_id % 10 = 0
""",
)
def q_explode_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )


@register(
    "classify_blocks",
    f"""
SELECT doc_id, tl AS text_len, nw AS n_words, ns AS n_stop,
  CASE WHEN tl < {spec.LEN_SHORT} THEN 'short'
       WHEN ns * 1.0 / nw >= {spec.STOP_GOOD} THEN 'good'
       WHEN ns * 1.0 / nw >= {spec.STOP_NEAR} THEN 'near'
       ELSE 'bad' END AS label
FROM (
  SELECT doc_id, length(text) AS tl, len(string_split(text, ' ')) AS nw,
    len(list_filter(string_split(text, ' '),
        w -> list_contains({_LANG_CASE_SQL}, lower(w)))) AS ns
  FROM documents
)
""",
)
def q_classify_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # `stops` is hoisted out of the lambda: lambda bodies are re-evaluated
    # per array element, which would rebuild the stopword array per token
    d = d.withColumn("stops", F.expr(_LANG_CASE_SPARK)).select(
        "doc_id",
        F.length("text").alias("tl"),
        F.size(F.split("text", " ")).alias("nw"),
        F.expr(
            "size(filter(split(text, ' '), w -> "
            "array_contains(stops, lower(w))))"
        ).alias("ns"),
    )
    dens = F.col("ns") * 1.0 / F.col("nw")
    return d.select(
        "doc_id",
        F.col("tl").alias("text_len"),
        F.col("nw").alias("n_words"),
        F.col("ns").alias("n_stop"),
        F.when(F.col("tl") < spec.LEN_SHORT, "short")
        .when(dens >= spec.STOP_GOOD, "good")
        .when(dens >= spec.STOP_NEAR, "near")
        .otherwise("bad")
        .alias("label"),
    )


@register(
    "smooth_labels",
    """
SELECT event_id, event_type,
  lag(event_type) OVER w AS prev_type,
  lead(event_type) OVER w AS next_type,
  CASE WHEN event_type = 'click'
        AND (lag(event_type) OVER w = 'error'
             OR lead(event_type) OVER w = 'error')
       THEN 'error_adjacent' ELSE event_type END AS smoothed
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def q_smooth_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    nxt = F.lead("event_type").over(w)
    return e.select(
        "event_id",
        "event_type",
        prev.alias("prev_type"),
        nxt.alias("next_type"),
        F.when(
            (F.col("event_type") == "click")
            & ((prev == "error") | (nxt == "error")),
            "error_adjacent",
        ).otherwise(F.col("event_type")).alias("smoothed"),
    )


# NOTE: (l_orderkey, l_linenumber) is NOT unique in the driver's synthetic
# lineitem — the window order must be total, or running sums are ambiguous
# across engines. The tie-break chain below includes every column that
# contributes to the output, so residual ties are exact-duplicate rows and
# produce identical output multisets regardless of order.
_SPAN_ORDER_SQL = "l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice"


@register(
    "span_offsets",
    f"""
SELECT l_orderkey, l_linenumber,
  CAST(coalesce(sum(CAST(l_quantity AS BIGINT)) OVER (
    PARTITION BY l_orderkey ORDER BY {_SPAN_ORDER_SQL}
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off,
  CAST(coalesce(sum(CAST(l_quantity AS BIGINT)) OVER (
    PARTITION BY l_orderkey ORDER BY {_SPAN_ORDER_SQL}
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
    + CAST(l_quantity AS BIGINT) AS BIGINT) AS end_off
FROM lineitem
""",
)
def q_span_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy(
            "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice",
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    qty = F.col("l_quantity").cast("bigint")
    start = F.coalesce(F.sum(qty).over(w), F.lit(0)).cast("bigint")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        start.alias("start_off"),
        (start + qty).cast("bigint").alias("end_off"),
    )


@register(
    "stopword_density",
    f"""
SELECT doc_id,
  CAST(round(len(list_filter(string_split(text, ' '),
      w -> list_contains({EN_STOP_SQL}, lower(w)))) * 1000000.0
    / len(string_split(text, ' ')), 0) AS BIGINT) AS stop_ppm
FROM documents WHERE lang = 'en'
""",
)
def q_stopword_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    return d.select(
        "doc_id",
        F.expr(
            f"CAST(round(size(filter(split(text, ' '), w -> "
            f"array_contains({EN_STOP_SPARK}, lower(w)))) * 1000000.0"
            f" / size(split(text, ' ')), 0) AS BIGINT)"
        ).alias("stop_ppm"),
    )


# The driver's CORRECTNESS_r{N}.json keeps only the FIRST 50 registry
# entries in iteration order, so the registry is rotated each round to
# keep driver coverage moving through the backlog. History: the r03 and
# r04 heads are frozen below as _R03_DRIVER_GRADED / _PRIORITY_R04 (now
# folded into _GRADED_R01_R04); the full r04 rotation rationale lives in
# git history (round-4 close) and STATUS.md.
#
# ROUND-5 ROTATION (executing the r04 VERDICT "Next round" items 1+2):
# 189 of 287 entries had never been driver-graded entering r05. The r05
# head is EXACTLY the 50-cap:
#   1. sim_ann_search — r03-graded but changed post-grading (single-probe
#      form was green on 0 rows; now 10-probe batch, 18 rows) — the same
#      regrade-first situation join_cross led r04 for;
#   2. join_anti — fixed THIS round to produce survivors (was green on an
#      empty result in r01/r02/r04 — zero signal; see its docstring);
#      its fresh row must show spark_rows > 0;
#   3. 48 never-driver-graded entries in the order the r04 plan queued
#      them: the 13 late-r04 webgraph/quality entries, the 8 web-ingest
#      entries, the 3 weburl entries, web_frontier/extract_meta/
#      web_wat_roundtrip, the trainprep, search and media blocks, the
#      4 core snapshot-table rows, cluster_kmeans + dedup_semantic,
#      graph_hits, profile_table + the 3 remaining table rows, and
#      extract_links_resolved (flagship-adjacent, called out by name in
#      the r04 VERDICT).
# All 50 have DuckDB value-hash oracles — no rows-only padding in the
# window. extract_wrapped sits out one round (4 green rows r01–r04; the
# golden byte-identity gate + bench still cover it) so the window holds
# >=48 first-ever gradings, per the VERDICT's done-criterion.
#
# ROUND-6 ROTATION PLAN (do this at the start of r06): the never-graded
# backlog after r05 is ~139 entries. Build _PRIORITY_R06 = [any entry
# whose source changed after its freshest driver row, then
# scan_avro_roundtrip (registered r05 under the verdict's Avro item —
# brand new, never graded), then the next 47+
# never-graded in registry order: the events_* block (sessionize, funnel,
# retention, resample, anomaly, range_frame, scd2, ewma, seqpattern,
# ab_test, forecast_naive, cohort_ltv, path_analysis, attribution, rfm,
# survival, active_users, streaks, heatmap), win_ntile_buckets,
# win_cume_dist, join_temporal_scd2, stream_scd2, the editdist/
# sorted-neighborhood trio, the webtables block (extract_tables_wrapped,
# web_table_shapes, web_table_records, stream_tables, extract_outline),
# the paradedup pair, the streamjoin pair, the formats block
# (jsonl/csv/orc/xml roundtrips + corrupt/merge_schema), then as many
# tpch_q* as fit]. Demote this round's head to _GRADED list. REGISTRY
# GROWTH STAYS FROZEN until the never-graded backlog clears (~3 more
# rounds at 50/round) — new entries only for driver-contract gaps or
# verdict items. Verify with `list(all_queries())[:50]` before
# committing.
_PRIORITY_R05 = [
    # (1) changed after its last driver grading — regrade first
    "sim_ann_search",
    # (2) fixed this round: survivors now exist (was empty-green)
    "join_anti",
    # (3) never driver-graded, in the r04-plan queue order
    "graph_hostlinks", "graph_pagerank", "dedup_lines_boiler", "pipe_dsir",
    "quality_lr_weights", "quality_lr_score", "pipe_url_filter",
    "pipe_host_filter", "graph_anchor_text", "text_normalize",
    "stream_hostlinks", "quality_lr_prod", "pipe_dsir_prod",
    "scan_warc_roundtrip", "scan_warc_gzip", "stream_warc_ingest",
    "web_wet_roundtrip", "web_cdx", "web_crawl_diff", "web_crawl_schedule",
    "pipe_robots_filter",
    "web_url_canon", "web_url_dedup_canon", "web_sitemap_parse",
    "web_frontier", "extract_meta", "web_wat_roundtrip",
    "pipe_chunk_windows", "pipe_split_holdout", "pipe_split_leakage",
    "search_postings", "search_bm25_topk", "search_phrase",
    "mm_decode_bmp", "mm_resize_bmp", "mm_audio_wav",
    "table_snap_timetravel", "table_snap_merge", "table_snap_evolve",
    "table_snap_rollback",
    "cluster_kmeans", "dedup_semantic", "graph_hits",
    "profile_table", "table_snap_cdc", "table_zorder_key",
    "table_mv_maintain",
    "extract_links_resolved",
]
assert len(_PRIORITY_R05) == 50

# Every entry with a driver row in CORRECTNESS_r01..r04 (98 distinct,
# minus the two regrades leading _PRIORITY_R05) — registered LAST so the
# 50-cap lands on never-graded entries first. Generated from the four
# CORRECTNESS json files at round-5 start; keep append-only.
_GRADED_R01_R04 = [
    "join_cross", "sim_ann_ivf", "text_langid", "text_quality",
    "text_tokens", "text_fingerprint", "mm_decode_stub", "gen_pages",
    "scan_pages", "stream_tumbling_counts", "agg_approx_distinct",
    "project_prune", "filter_pred", "derive_host", "derive_hashes",
    "explode_blocks", "classify_blocks", "smooth_labels", "span_offsets",
    "stopword_density", "join_broadcast", "join_shuffle", "join_salted",
    "join_semi", "join_range", "join_asof", "agg_basic", "agg_distinct",
    "agg_groupingsets", "agg_collect", "agg_percentile",
    "agg_custom_pandas", "extract_wrapped", "stream_dedup_minhash",
    "stream_dedup_cc", "sim_ann_ivf_trained", "pipe_pack_hashed",
    "dedup_substr_spans", "text_ppl_proxy", "text_gopher_rules",
    "pipe_mix_domains", "pipe_shuffle_shard", "sim_ann_pq",
    "dedup_substr_clean", "dedup_substr_prod", "text_collocations",
    "tokenizer_bpe_merges", "tokenizer_bpe_encode", "extract_links",
    "scan_counts", "udf_grouped_map", "win_rownum_dedup", "win_rank_topk",
    "win_laglead", "win_frame_sum", "sort_global", "topk", "set_union",
    "set_except", "set_intersect", "fn_string", "fn_binary", "fn_datetime",
    "fn_math", "fn_array", "fn_map", "fn_json", "fn_vector",
    "fn_window_batch", "udf_scalar_iter", "udf_map_arrow",
    "dedup_minhash_sig", "mm_resize_stub", "mm_frames_stub",
    "dedup_minhash_prod", "dedup_cc", "sim_ann_2table", "pipe_url_canon",
    "pipe_repetition", "pipe_contamination", "pipe_sample_stratified",
    "pipe_pack_sequences", "pipe_scrub_pii", "pipe_quality_filter",
    "pipe_funnel", "join_range_bucket", "udtf_blocks", "dedup_exact",
    "dedup_minhash_pairs", "dedup_minhash_groups", "dedup_simhash",
    "dedup_jaccard", "dedup_embcos", "sim_cosine_topk", "sim_ann_lsh",
    "sim_ann_multiprobe",
]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # importing the sibling modules populates the registry
    from ocr_spark import queries_joins_aggs  # noqa: F401
    from ocr_spark import queries_fns  # noqa: F401
    from ocr_spark import queries_textml  # noqa: F401
    from ocr_spark import queries_pipeline  # noqa: F401
    from ocr_spark import queries_corpusml  # noqa: F401
    from ocr_spark import queries_webgraph  # noqa: F401
    from ocr_spark import queries_webingest  # noqa: F401
    from ocr_spark import queries_weburl  # noqa: F401
    from ocr_spark import queries_trainprep  # noqa: F401
    from ocr_spark import queries_search  # noqa: F401
    from ocr_spark import queries_media  # noqa: F401
    from ocr_spark import queries_tables  # noqa: F401
    from ocr_spark import queries_cluster  # noqa: F401
    from ocr_spark import queries_sketch  # noqa: F401
    from ocr_spark import queries_events  # noqa: F401
    from ocr_spark import queries_editdist  # noqa: F401
    from ocr_spark import queries_webtables  # noqa: F401
    from ocr_spark import queries_paradedup  # noqa: F401
    from ocr_spark import queries_streamjoin  # noqa: F401
    from ocr_spark import queries_formats  # noqa: F401
    from ocr_spark import queries_tpch  # noqa: F401
    from ocr_spark import queries_dq  # noqa: F401
    from ocr_spark import queries_sql4  # noqa: F401
    from ocr_spark import queries_scaleopt  # noqa: F401
    from ocr_spark import queries_privacy  # noqa: F401

    prio = [k for k in _PRIORITY_R05 if k in QUERIES]
    tail = set(_GRADED_R01_R04)
    mid = [k for k in QUERIES if k not in set(prio) and k not in tail]
    last = [k for k in _GRADED_R01_R04 if k in QUERIES]
    return {k: QUERIES[k] for k in prio + mid + last}


# oracles whose SQL needs the sibling modules (circular at import time);
# built on first all_oracles() call, after all_queries() has imported them
def _extract_langid_oracle() -> str:
    from ocr_spark.queries_textml import _lid_oracle

    return _lid_oracle()


_LAZY_ORACLES: dict[str, Callable[[], str]] = {
    "stream_dedup_minhash": _stream_dedup_minhash_oracle,
    "stream_dedup_cc": _stream_dedup_cc_oracle,
    "extract_langid_wrapped": _extract_langid_oracle,
}


def all_oracles() -> dict[str, str]:
    q = all_queries()
    for name, make in _LAZY_ORACLES.items():
        if name not in ORACLES:
            ORACLES[name] = make()
    return {k: ORACLES[k] for k in q if k in ORACLES}
