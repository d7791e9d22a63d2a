"""Corpus-preparation operators, block 2: the famous large-scale
training-data components not yet covered by queries_textml/queries_pipeline.

- exact-substring duplicate spans (the Lee-et-al-2021 "Deduplicating
  Training Data" family, re-expressed as a rolling char-k-gram inverted
  index + island grouping — no suffix array, no driver-side state);
- CCNet-style perplexity-proxy quality scoring (corpus unigram LM);
- Gopher quality-rule bundle (word/line shape heuristics);
- alpha-temperature domain mixing (per-source sampling quotas);
- deterministic seeded global shuffle + fixed shard assignment
  (training-order materialization);
- product-quantization ANN (PQ codes + asymmetric-distance top-k),
  completing the brute/LSH/multi-probe/IVF family.

Every checked output is integer-quantized (e2/e4/e6 fixed-point BIGINTs or
md5 hex) so the DuckDB oracle hashes match exactly — the same discipline as
the sibling modules. Float work happens inside a single expression tree
whose per-row evaluation is order-independent; cross-row float SUM/AVG is
never emitted unquantized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_spark.queries import register, t
from ocr_spark.queries_textml import _L2_SPARK, _L2_SQL, _WORDS_SPARK

_WORDS_SQL = "list_filter(string_split({col}, ' '), x -> x != '')"

# --- exact-substring duplicate spans ------------------------------------------------
# Lee et al. 2021 dedups training corpora by EXACT substring: any ≥L-char
# run that appears twice anywhere in the corpus is a duplicate span. Their
# implementation is a single-machine suffix array; at 100 TB the
# Spark-first shape is a rolling k-gram inverted index:
#   positions = one row per (doc, char offset) k-gram  (linear in corpus;
#               hashes built as one array per doc before the explode)
#   dup test  = count window over the gram partition    (one shuffle)
#   spans     = consecutive duplicated offsets, grouped into islands with
#               a lag/running-sum window per doc        (one shuffle by doc)
# No doc-doc pairs are ever materialized, so there is no quadratic anywhere:
# a gram shared by a million docs costs one frequency tag per occurrence,
# never a pairwise comparison.
# Production knobs (implemented in functions/substr.py, exercised by
# tests/test_corpusml.py): content-keyed gram sampling (md5 % sample_mod —
# winnowing-style; a positional stride would miss phase-misaligned
# cross-doc copies, which the tests demonstrate the content key survives)
# and a document-frequency cap (max_df) that drops stop-grams (boilerplate
# shared by ~every page) from the span output.

SUBSTR_K = 16  # char k-gram width; duplicated spans are maximal runs >= K


@register(
    "dedup_substr_spans",
    f"""
WITH pos AS (
  SELECT doc_id, text,
    unnest(range(1, length(text) - {SUBSTR_K} + 2)) AS p
  FROM documents WHERE length(text) >= {SUBSTR_K}
), grams AS (
  SELECT doc_id, p, md5(substr(text, p, {SUBSTR_K})) AS g FROM pos
), dupg AS (
  SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
), hits AS (
  SELECT doc_id, p FROM grams JOIN dupg USING (g)
), brk AS (
  SELECT doc_id, p,
    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) = 1
         THEN 0 ELSE 1 END AS b
  FROM hits
), isl AS (
  SELECT doc_id, p,
    sum(b) OVER (PARTITION BY doc_id ORDER BY p
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM brk
)
SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
  CAST(max(p) - min(p) + {SUBSTR_K} AS BIGINT) AS span_len,
  CAST(count(*) AS BIGINT) AS n_grams
FROM isl GROUP BY doc_id, island
""",
)
def q_dedup_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans: every maximal run of characters that
    occurs >= 2 times corpus-wide, as (doc_id, span_start, span_len). The
    implementation (with the production sampling / stop-gram-cap knobs) lives
    in functions/substr.substr_dup_spans; this entry pins the frozen oracle
    parameters. See the block comment above for the scale analysis (linear
    index, two shuffles, zero doc-doc pairs)."""
    from ocr_spark.functions.substr import substr_dup_spans

    return substr_dup_spans(
        t(spark, sf_dir, "documents"),
        k=SUBSTR_K, sample_mod=1, min_freq=2, max_df=None,
    )


# --- CCNet-style perplexity-proxy quality score -------------------------------------
# CCNet filters Common Crawl by KenLM perplexity; the sandbox has no KenLM,
# but the DECISION SHAPE is a corpus LM scored per doc. A unigram LM over
# the corpus itself is the honest stdlib-only proxy: nll(w) = ln(N / c_w),
# doc score = sum over words. Each word's nll is quantized to e4 BEFORE the
# per-doc sum, so the checked output is an exact integer on both engines.
# Scale: the vocab table is Zipf-bounded (vastly smaller than the corpus)
# and broadcast; the whole job is one groupBy(word) + one broadcast join —
# no per-doc state, no Python.


@register(
    "text_ppl_proxy",
    """
WITH w AS (
  SELECT doc_id,
    unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
  FROM documents
), f AS (
  SELECT w, count(*) AS c FROM w GROUP BY w
), tot AS (
  SELECT sum(c) AS n FROM f
)
SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
  CAST(sum(CAST(round(ln(CAST(tot.n AS DOUBLE) / CAST(f.c AS DOUBLE))
    * 10000, 0) AS BIGINT)) AS BIGINT) AS sum_nll_e4
FROM w JOIN f USING (w) CROSS JOIN tot
GROUP BY w.doc_id
""",
)
def q_text_ppl_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM negative-log-likelihood per document (CCNet perplexity
    filtering, proxied stdlib-only). Per-word nll quantized to e4 before the
    integer per-doc sum — exact oracle parity, no float-sum order issues."""
    d = t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(
            F.expr(_WORDS_SPARK.format(col="lower(text)"))
        ).alias("w"),
    )
    f = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = f.agg(F.sum("c").alias("n"))
    nll_e4 = F.round(
        F.log(F.col("n").cast("double") / F.col("c").cast("double"))
        * 10000,
        0,
    ).cast("bigint")
    return (
        words.join(F.broadcast(f), "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(nll_e4).alias("sum_nll_e4"),
        )
    )


# --- Gopher quality-rule bundle -----------------------------------------------------
# The Rae-et-al Gopher rules are the canonical web-text heuristic filter:
# word-count bounds, mean word length, symbol-to-word ratio, bullet/ellipsis
# line fractions, alphabetic-word fraction. All metrics are emitted as
# fixed-point BIGINTs and the pass flag is derived from the SAME integers,
# so the boolean is exactly reproducible. Pure per-row expressions — at
# 100 TB this is a map-only scan that fuses into whole-stage codegen.

_GOPHER_SQL = f"""
WITH m AS (
  SELECT doc_id,
    {_WORDS_SQL.format(col='text')} AS ws,
    string_split(text, chr(10)) AS ls
  FROM documents
), s AS (
  SELECT doc_id,
    CAST(len(ws) AS BIGINT) AS n_words,
    CAST(round(list_aggregate(list_transform(ws, x -> length(x)), 'sum')
      * 100.0 / greatest(len(ws), 1), 0) AS BIGINT) AS mean_wlen_e2,
    CAST(round(len(list_filter(ws, x -> contains(x, '#')
      OR contains(x, '...'))) * 10000.0 / greatest(len(ws), 1), 0)
      AS BIGINT) AS symbol_e4,
    CAST(round(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))
      * 10000.0 / greatest(len(ws), 1), 0) AS BIGINT) AS alpha_e4,
    CAST(round(len(list_filter(ls, l -> starts_with(l, '- ')
      OR starts_with(l, '* '))) * 10000.0 / greatest(len(ls), 1), 0)
      AS BIGINT) AS bullet_e4,
    CAST(round(len(list_filter(ls, l -> ends_with(l, '...')))
      * 10000.0 / greatest(len(ls), 1), 0) AS BIGINT) AS ellipsis_e4,
    CAST(round((len(ls) - len(list_distinct(ls))) * 10000.0
      / greatest(len(ls), 1), 0) AS BIGINT) AS dup_line_e4
  FROM m
)
SELECT doc_id, n_words, mean_wlen_e2, symbol_e4, alpha_e4, bullet_e4,
  ellipsis_e4, dup_line_e4,
  CAST(CASE WHEN n_words BETWEEN 50 AND 100000
    AND mean_wlen_e2 BETWEEN 300 AND 1000
    AND symbol_e4 <= 1000 AND alpha_e4 >= 8000
    AND bullet_e4 <= 9000 AND ellipsis_e4 <= 3000
    AND dup_line_e4 <= 3000
  THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
FROM s
"""


@register("text_gopher_rules", _GOPHER_SQL)
def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules: per-doc shape heuristics + pass flag, all from
    fixed-point integers (see module comment). Map-only scan at scale."""
    d = t(spark, sf_dir, "documents")
    m = d.select(
        "doc_id",
        F.expr(_WORDS_SPARK.format(col="text")).alias("ws"),
        F.expr("split(text, '\\n')").alias("ls"),
    )
    nw = F.greatest(F.size("ws"), F.lit(1))
    nl = F.greatest(F.size("ls"), F.lit(1))

    def frac_e4(cnt, denom):
        return F.round(cnt * 10000.0 / denom, 0).cast("bigint")

    s = m.select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_words"),
        F.round(
            F.expr("aggregate(transform(ws, x -> length(x)), 0, (a, b) -> a + b)")
            * 100.0 / nw,
            0,
        ).cast("bigint").alias("mean_wlen_e2"),
        frac_e4(
            F.size(F.expr(
                "filter(ws, x -> contains(x, '#') OR contains(x, '...'))"
            )),
            nw,
        ).alias("symbol_e4"),
        frac_e4(
            F.size(F.expr("filter(ws, x -> x rlike '[a-zA-Z]')")), nw
        ).alias("alpha_e4"),
        frac_e4(
            F.size(F.expr(
                "filter(ls, l -> startswith(l, '- ') OR startswith(l, '* '))"
            )),
            nl,
        ).alias("bullet_e4"),
        frac_e4(
            F.size(F.expr("filter(ls, l -> endswith(l, '...'))")), nl
        ).alias("ellipsis_e4"),
        frac_e4(
            F.size("ls") - F.size(F.array_distinct("ls")), nl
        ).alias("dup_line_e4"),
    )
    gp = (
        F.col("n_words").between(50, 100000)
        & F.col("mean_wlen_e2").between(300, 1000)
        & (F.col("symbol_e4") <= 1000)
        & (F.col("alpha_e4") >= 8000)
        & (F.col("bullet_e4") <= 9000)
        & (F.col("ellipsis_e4") <= 3000)
        & (F.col("dup_line_e4") <= 3000)
    )
    return s.withColumn(
        "gopher_pass", F.when(gp, F.lit(1)).otherwise(F.lit(0)).cast("bigint")
    )


# --- alpha-temperature domain mixing ------------------------------------------------
# Training mixes re-weight sources by count^alpha (alpha < 1 up-weights
# small domains — the multilingual-sampling trick). Quotas are computed in
# INTEGER arithmetic (weights pre-quantized to e3) so floor() can never
# flip on a float-sum ulp, and membership is a deterministic md5-ranked
# prefix per source. Scale: source stats are one tiny agg; the rank window
# partitions by source (parallelism = #domains; at web scale each domain is
# further hash-sharded before ranking, same device as pipe_pack_hashed).

_MIX_ALPHA_SQL = "CAST(round(sqrt(CAST(c AS DOUBLE)) * 1000, 0) AS BIGINT)"
_MIX_TARGET_NUM, _MIX_TARGET_DEN = 3, 5  # keep 60% of the corpus overall


@register(
    "pipe_mix_domains",
    f"""
WITH c AS (
  SELECT source, count(*) AS c FROM documents GROUP BY source
), w AS (
  SELECT source, c, {_MIX_ALPHA_SQL} AS w_e3 FROM c
), tot AS (
  SELECT sum(w_e3) AS sw, sum(c) AS n FROM w
), q AS (
  SELECT source,
    (w_e3 * (tot.n * {_MIX_TARGET_NUM} // {_MIX_TARGET_DEN})) // tot.sw
      AS quota
  FROM w CROSS JOIN tot
), r AS (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS rk
FROM r JOIN q USING (source) WHERE r.rk <= q.quota
""",
)
def q_pipe_mix_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count^0.5 temperature mixing: integer quotas per source, md5-ranked
    deterministic membership. See block comment for the integer-quota
    device and the scale notes."""
    d = t(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    w = c.select(
        "source", "c",
        F.round(F.sqrt(F.col("c").cast("double")) * 1000, 0)
        .cast("bigint").alias("w_e3"),
    )
    tot = w.agg(F.sum("w_e3").alias("sw"), F.sum("c").alias("n"))
    q = (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.expr(
                f"(w_e3 * ((n * {_MIX_TARGET_NUM}) div {_MIX_TARGET_DEN}))"
                f" div sw"
            ).alias("quota"),
        )
    )
    rw = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    r = d.select(
        "doc_id", "source", F.row_number().over(rw).alias("rk")
    )
    return (
        r.join(F.broadcast(q), "source")
        .filter(F.col("rk") <= F.col("quota"))
        .select("doc_id", "source", F.col("rk").cast("bigint").alias("rk"))
    )


# --- deterministic seeded shuffle + shard assignment --------------------------------
# Training-order materialization: every doc gets a seeded pseudo-random key
# (md5 of seed:doc_id), a shard (two key bytes mod P — parallel, stateless)
# and a position within its shard (sort by key inside the shard only).
# This is the standard distributed global shuffle: no total order, no
# single-partition window; parallelism = P and each shard is one output
# file's worth of work. Re-running with the same seed reproduces the exact
# order on any cluster size.

_SHUF_SEED = "shuf42:"
_SHUF_P = 8


@register(
    "pipe_shuffle_shard",
    f"""
WITH k AS (
  SELECT doc_id, md5('{_SHUF_SEED}' || CAST(doc_id AS VARCHAR)) AS key
  FROM documents
)
SELECT doc_id,
  CAST((ascii(substr(key, 1, 1)) * 256 + ascii(substr(key, 2, 1)))
    % {_SHUF_P} AS BIGINT) AS shard,
  CAST(row_number() OVER (
    PARTITION BY (ascii(substr(key, 1, 1)) * 256
      + ascii(substr(key, 2, 1))) % {_SHUF_P}
    ORDER BY key, doc_id) AS BIGINT) AS pos
FROM k
""",
)
def q_pipe_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic global shuffle: md5 key -> shard (mod P) ->
    within-shard position. Never a total order; see block comment."""
    d = t(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(_SHUF_SEED), F.col("doc_id").cast("string")))
    k = d.select("doc_id", key.alias("key"))
    shard = (
        (F.ascii(F.substring("key", 1, 1)) * 256
         + F.ascii(F.substring("key", 2, 1))) % _SHUF_P
    ).cast("bigint")
    k = k.withColumn("shard", shard)
    w = Window.partitionBy("shard").orderBy("key", "doc_id")
    return k.select(
        "doc_id", "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


# --- product-quantization ANN -------------------------------------------------------
# PQ completes the ANN family (brute/LSH/multi-probe/IVF already graded):
# vectors are split into M subvectors, each quantized to one of KS codebook
# entries (here the deterministic skeleton codebook = subvectors of the
# first KS vectors, same seeding device as sim_ann_ivf; ivf_train_centroids
# shows the trained path for coarse quantizers). Search is asymmetric
# distance (ADC): per-(subspace, code) probe distances are a KS*M lookup
# table, a doc's approx distance is the integer sum of its M table entries.
# Per-cell distances are quantized to e6 BEFORE the sum — exact parity.
# Scale: codes are M bytes per vector (64x compression at D=64 float32);
# the LUT is broadcast; scoring is a map-only pass + top-k.

_PQ_M = 8       # subvectors
_PQ_DS = 8      # dims per subvector (embeddings are D=64)
_PQ_KS = 4      # codebook entries per subspace


@register(
    "sim_ann_pq",
    f"""
WITH sub AS (
  SELECT vec_id, label, m.m,
    (embedding)[m.m * {_PQ_DS} + 1 : m.m * {_PQ_DS} + {_PQ_DS}] AS sv
  FROM embeddings, (SELECT unnest(range(0, {_PQ_M})) AS m) m
), cb AS (
  SELECT vec_id AS code_id, m, sv AS cvec FROM sub WHERE vec_id < {_PQ_KS}
), enc AS (
  SELECT s.vec_id, s.label, s.m,
    CAST(min(CAST(round({_L2_SQL.format(v='s.sv', c='c.cvec')} * 1000000, 0)
      AS BIGINT) * {_PQ_KS} + c.code_id) % {_PQ_KS} AS BIGINT) AS code
  FROM sub s JOIN cb c ON s.m = c.m
  GROUP BY s.vec_id, s.label, s.m
), lut AS (
  SELECT c.m, c.code_id,
    CAST(round({_L2_SQL.format(v='p.sv', c='c.cvec')} * 1000000, 0)
      AS BIGINT) AS pd_e6
  FROM cb c JOIN (SELECT m, sv FROM sub WHERE vec_id = 0) p ON c.m = p.m
)
SELECT e.vec_id, max(e.label) AS label,
  CAST(sum(l.pd_e6) AS BIGINT) AS adc_e6
FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.code_id
WHERE e.vec_id <> 0
GROUP BY e.vec_id
ORDER BY adc_e6 ASC, e.vec_id
LIMIT 10
""",
)
def q_sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN: deterministic skeleton codebooks -> per-subspace argmin codes
    (quantized scalar key, same device as sim_ann_ivf) -> broadcast ADC
    lookup table -> integer-summed approx distance top-10."""
    e = t(spark, sf_dir, "embeddings")
    sub = e.select(
        "vec_id", "label",
        F.explode(F.expr(f"sequence(0, {_PQ_M - 1})")).alias("m"),
        "embedding",
    ).select(
        "vec_id", "label", "m",
        F.expr(f"slice(embedding, m * {_PQ_DS} + 1, {_PQ_DS})").alias("sv"),
    )
    cb = sub.filter(F.col("vec_id") < _PQ_KS).select(
        F.col("vec_id").alias("code_id"), "m", F.col("sv").alias("cvec")
    )
    key = (
        F.round(
            F.expr(_L2_SPARK.format(v="sv", c="cvec")) * 1000000, 0
        ).cast("bigint") * _PQ_KS + F.col("code_id")
    )
    enc = (
        sub.join(F.broadcast(cb), "m")
        .withColumn("_k", key)
        .groupBy("vec_id", "label", "m")
        .agg(F.min("_k").alias("_mk"))
        .select(
            "vec_id", "label", "m",
            (F.col("_mk") % _PQ_KS).cast("bigint").alias("code"),
        )
    )
    probe = sub.filter(F.col("vec_id") == 0).select(
        F.col("m").alias("pm"), F.col("sv").alias("psv")
    )
    lut = (
        cb.join(F.broadcast(probe), F.col("m") == F.col("pm"))
        .select(
            "m", "code_id",
            F.round(
                F.expr(_L2_SPARK.format(v="psv", c="cvec")) * 1000000, 0
            ).cast("bigint").alias("pd_e6"),
        )
    )
    return (
        enc.filter(F.col("vec_id") != 0)
        .join(
            F.broadcast(lut),
            (enc["m"] == lut["m"]) & (enc["code"] == lut["code_id"]),
        )
        .groupBy("vec_id")
        .agg(
            F.max("label").alias("label"),
            F.sum("pd_e6").alias("adc_e6"),
        )
        .orderBy(F.col("adc_e6").asc(), "vec_id")
        .limit(10)
    )


# --- exact-substring dedup: the removal path ----------------------------------------
# Spans are the diagnostic; the corpus ACTION is deletion with the
# Lee-et-al keep-one-copy rule: every duplicated k-gram occurrence is
# removable except the corpus-first one — lexicographic (doc_id, position),
# decided by a row_number window over the gram partition in BOTH engines
# (never a packed doc_id*BASE+p scalar: production ids are full 64-bit
# hashes and the multiplication overflows). Removable positions merge into
# disjoint intervals (gap <= k overlaps or abuts) and each doc is
# reassembled from its kept segments — Spark folds a sorted interval array
# with a JVM HOF; the oracle rebuilds the same segments with lag() +
# ordered string_agg.


def _substr_clean_oracle() -> str:
    k = SUBSTR_K
    return f"""
WITH pos AS (
  SELECT doc_id, text, unnest(range(1, length(text) - {k} + 2)) AS p
  FROM documents WHERE length(text) >= {k}
), grams AS (
  SELECT doc_id, p, md5(substr(text, p, {k})) AS g FROM pos
), counted AS (
  SELECT doc_id, p,
    count(*) OVER (PARTITION BY g) AS n,
    row_number() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn
  FROM grams
), removable AS (
  SELECT doc_id, p FROM counted WHERE n >= 2 AND rn > 1
), brk AS (
  SELECT doc_id, p,
    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= {k}
         THEN 0 ELSE 1 END AS b
  FROM removable
), isl AS (
  SELECT doc_id, p, sum(b) OVER (PARTITION BY doc_id ORDER BY p
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM brk
), iv AS (
  SELECT doc_id, min(p) AS s, max(p) + {k} AS e
  FROM isl GROUP BY doc_id, island
), pieces AS (
  SELECT doc_id, s AS ord,
    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS ps,
    s AS pe
  FROM iv
  UNION ALL
  SELECT doc_id, 9223372036854775807 AS ord, max(e) AS ps,
    9223372036854775807 AS pe
  FROM iv GROUP BY doc_id
), rebuilt AS (
  SELECT p.doc_id,
    string_agg(substr(d.text, CAST(p.ps AS INT),
      CAST(least(p.pe, length(d.text) + 1) - p.ps AS INT)), ''
      ORDER BY p.ord) AS clean_text
  FROM pieces p JOIN documents d USING (doc_id)
  GROUP BY p.doc_id
)
SELECT d.doc_id,
  coalesce(r.clean_text, d.text) AS clean_text,
  CAST(length(d.text) - length(coalesce(r.clean_text, d.text)) AS BIGINT)
    AS removed_chars
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
"""


def q_dedup_substr_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaned corpus under exact-substring dedup (keep the corpus-first
    occurrence of every duplicated 16-gram run, delete the rest). Scale
    shape = substr_dup_spans plus one per-gram winner aggregate and a
    per-doc sorted-interval fold — still linear, still zero doc-doc
    pairs."""
    from ocr_spark.functions.substr import substr_dedup_clean

    return substr_dedup_clean(
        t(spark, sf_dir, "documents"), k=SUBSTR_K, min_freq=2
    )


def _register_substr_clean() -> None:
    register("dedup_substr_clean", _substr_clean_oracle())(
        q_dedup_substr_clean
    )


_register_substr_clean()


# --- substring dedup at the production knobs ----------------------------------------
# Grades functions/substr.py's two 100-TB knobs end-to-end: content-keyed
# gram sampling at 1/4 rate (md5-derived — phase-independent, so cross-doc
# copies at different offsets still collide) and the stop-gram
# document-frequency cap. The oracle mirrors the sampling predicate via
# DuckDB's hex-literal cast and the gap-merge island rule (gap <= 2k+mod).

_SUBSTR_PROD_MOD = 4
_SUBSTR_PROD_MAXDF = 64
_SUBSTR_PROD_GAP = 2 * SUBSTR_K + _SUBSTR_PROD_MOD


@register(
    "dedup_substr_prod",
    f"""
WITH pos AS (
  SELECT doc_id, text,
    unnest(range(1, length(text) - {SUBSTR_K} + 2)) AS p
  FROM documents WHERE length(text) >= {SUBSTR_K}
), grams AS (
  SELECT doc_id, p, md5(substr(text, p, {SUBSTR_K})) AS g FROM pos
), sampled AS (
  SELECT doc_id, p, g FROM grams
  WHERE CAST('0x' || substr(g, 1, 8) AS BIGINT) % {_SUBSTR_PROD_MOD} = 0
), dupg AS (
  SELECT g FROM sampled GROUP BY g
  HAVING count(*) >= 2 AND count(*) <= {_SUBSTR_PROD_MAXDF}
), hits AS (
  SELECT doc_id, p FROM sampled JOIN dupg USING (g)
), brk AS (
  SELECT doc_id, p,
    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
           <= {_SUBSTR_PROD_GAP}
         THEN 0 ELSE 1 END AS b
  FROM hits
), isl AS (
  SELECT doc_id, p,
    sum(b) OVER (PARTITION BY doc_id ORDER BY p
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM brk
)
SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
  CAST(max(p) - min(p) + {SUBSTR_K} AS BIGINT) AS span_len,
  CAST(count(*) AS BIGINT) AS n_grams
FROM isl GROUP BY doc_id, island
""",
)
def q_dedup_substr_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring duplicate spans at the production settings: 1/4
    content-keyed gram sampling + document-frequency cap 64. Same linear
    plan as dedup_substr_spans with two extra Filters."""
    from ocr_spark.functions.substr import substr_dup_spans

    return substr_dup_spans(
        t(spark, sf_dir, "documents"),
        k=SUBSTR_K,
        sample_mod=_SUBSTR_PROD_MOD,
        min_freq=2,
        max_df=_SUBSTR_PROD_MAXDF,
    )


# --- bigram collocations by PMI ------------------------------------------------------
# Corpus-level collocation mining (the classic PMI ranking): bigram counts
# vs unigram expectations, integer-quantized log-ratio, top-20. Scale: one
# groupBy over bigrams + two broadcast joins against the (Zipf-bounded)
# unigram table; the final top-k is TakeOrderedAndProject. Every count is
# exact-integer; the single float op is one ln() per surviving bigram with
# an identical expression tree in both engines.

_COLL_MIN_COUNT = 5


@register(
    "text_collocations",
    f"""
WITH m AS (
  SELECT doc_id, {_WORDS_SQL.format(col='lower(text)')} AS ws FROM documents
), wlist AS (
  SELECT doc_id, unnest(ws) AS w FROM m
), uni AS (
  SELECT w, count(*) AS c FROM wlist GROUP BY w
), nw AS (
  SELECT sum(c) AS n FROM uni
), bg AS (
  SELECT ws[i] AS w1, ws[i + 1] AS w2
  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM m WHERE len(ws) >= 2)
), bgc AS (
  SELECT w1, w2, count(*) AS cxy FROM bg GROUP BY w1, w2
), nb AS (
  SELECT sum(cxy) AS n FROM bgc
)
SELECT b.w1, b.w2, CAST(b.cxy AS BIGINT) AS cxy,
  CAST(round(ln(
    (CAST(b.cxy AS DOUBLE) * CAST(nw.n AS DOUBLE) * CAST(nw.n AS DOUBLE))
    / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE) * CAST(nb.n AS DOUBLE))
  ) * 10000, 0) AS BIGINT) AS pmi_e4
FROM bgc b
JOIN uni u1 ON b.w1 = u1.w
JOIN uni u2 ON b.w2 = u2.w
CROSS JOIN nw CROSS JOIN nb
WHERE b.cxy >= {_COLL_MIN_COUNT}
ORDER BY pmi_e4 DESC, b.w1, b.w2
LIMIT 20
""",
)
def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by pointwise mutual information
    (count >= {_COLL_MIN_COUNT}). See block comment for the scale shape."""
    d = t(spark, sf_dir, "documents")
    m = d.select(
        "doc_id",
        F.expr(_WORDS_SPARK.format(col="lower(text)")).alias("ws"),
    )
    wlist = m.select("doc_id", F.explode("ws").alias("w"))
    uni = wlist.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nw = uni.agg(F.sum("c").alias("n"))
    bg = (
        m.filter(F.size("ws") >= 2)
        .select(
            "ws",
            F.explode(F.expr("sequence(1, size(ws) - 1)")).alias("i"),
        )
        .select(
            F.expr("element_at(ws, i)").alias("w1"),
            F.expr("element_at(ws, i + 1)").alias("w2"),
        )
    )
    bgc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cxy"))
    nb = bgc.agg(F.sum("cxy").alias("nb_n"))
    pmi = F.round(
        F.log(
            (F.col("cxy").cast("double")
             * F.col("n").cast("double") * F.col("n").cast("double"))
            / (F.col("c1").cast("double") * F.col("c2").cast("double")
               * F.col("nb_n").cast("double"))
        ) * 10000,
        0,
    ).cast("bigint")
    return (
        bgc.filter(F.col("cxy") >= _COLL_MIN_COUNT)
        .join(
            F.broadcast(uni.select(F.col("w").alias("w1"),
                                   F.col("c").alias("c1"))), "w1"
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"),
                                   F.col("c").alias("c2"))), "w2"
        )
        .crossJoin(F.broadcast(nw))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1", "w2", F.col("cxy").cast("bigint").alias("cxy"),
            pmi.alias("pmi_e4"),
        )
        .orderBy(F.col("pmi_e4").desc(), "w1", "w2")
        .limit(20)
    )


# --- BPE tokenizer training ----------------------------------------------------------
# The corpus's own tokenizer (Sennrich-et-al byte-pair encoding), trained
# distributed: see functions/bpe.py for the full scale analysis (one
# corpus-wide word-frequency shuffle, then iterative pair-count argmax
# rounds over the vocabulary table with the CC-fixpoint persist
# discipline). No SQL oracle can express the iterative argmax — these two
# rows are rows-only BY DESIGN; semantics are pinned against an
# independent pure-Python reference BPE in tests/test_bpe.py.

_BPE_MERGES = 10


@register("tokenizer_bpe_merges", None)
def q_tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 10 BPE merges trained on the documents table: (rank, left,
    right, freq). Deterministic (integer counts, lexicographic argmax
    tie-break)."""
    from ocr_spark.functions.bpe import bpe_train

    merges = bpe_train(t(spark, sf_dir, "documents"), _BPE_MERGES)
    return spark.createDataFrame(
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank long, left string, right string, freq long",
    )


@register("tokenizer_bpe_encode", None)
def q_tokenizer_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every doc encoded with the 10 trained merges (Arrow-batched
    iterator UDF): (doc_id, n_words, n_tokens)."""
    from ocr_spark.functions.bpe import bpe_encode, bpe_train

    d = t(spark, sf_dir, "documents")
    merges = bpe_train(d, _BPE_MERGES)
    return bpe_encode(d, merges).select("doc_id", "n_words", "n_tokens")


# --- Kneser-Ney bigram LM scoring (round 4 late) --------------------------------------
# The REAL CCNet decision is a KenLM n-gram model with (modified) Kneser-Ney
# smoothing; text_ppl_proxy above keeps only the unigram shape. This entry
# trains the standard interpolated-KN BIGRAM model on the corpus itself and
# scores every document with it — the full smoothing math (absolute
# discount, continuation probability, backoff mass), distributed:
#
#   P_KN(w2|w1) = (c(w1,w2) - D)/c(w1·)  +  D·T(w1)/c(w1·) · Pc(w2)
#   Pc(w2)      = |{w1 : c(w1,w2)>0}| / |bigram types|
#
# with D = 0.75 (the textbook discount). Scored on the training corpus every
# bigram has c ≥ 1, so the max(·,0) clamp never binds and the probability is
# strictly positive.
#
# Scale shape (100 TB): ONE explode builds the corpus bigram stream (the
# per-doc bigram array is assembled as a JVM HOF before the explode — no
# Python); all model tables derive from the bigram-TYPE table (Zipf-bounded,
# orders of magnitude smaller than the corpus): c1/T per left word and the
# continuation counts are each one groupBy over types. Scoring joins the
# corpus bigram stream back to the per-type nll on (w1,w2) — AQE broadcasts
# the model when it fits and falls back to a same-key shuffle join when it
# doesn't; either way nothing is quadratic and no state is per-document.
# Every per-bigram nll is quantized to e4 BEFORE the per-doc integer sum
# (the established float-parity device), so the driver hash is exact.

_KN_D = "75e-2"  # absolute discount, as a literal both engines parse DOUBLE

_KN_CTES = f"""
WITH w AS (
  SELECT doc_id,
    list_filter(string_split(lower(text), ' '), x -> x != '') AS ws
  FROM documents
), pos AS (
  SELECT doc_id,
    unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
    unnest(list_transform(range(1, len(ws)), i -> ws[i + 1])) AS w2
  FROM w WHERE len(ws) >= 2
), bg AS (
  SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12 FROM pos GROUP BY w1, w2
), l AS (
  SELECT w1, CAST(sum(c12) AS DOUBLE) AS c1, CAST(count(*) AS DOUBLE) AS t1
  FROM bg GROUP BY w1
), r AS (
  SELECT w2, CAST(count(*) AS DOUBLE) AS cr FROM bg GROUP BY w2
), tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS nt FROM bg
), p AS (
  SELECT bg.w1, bg.w2,
    CAST(round(-ln(
      ((bg.c12 - {_KN_D}) / l.c1)
      + ((({_KN_D} * l.t1) / l.c1) * (r.cr / tot.nt))
    ) * 10000, 0) AS BIGINT) AS nll_e4
  FROM bg JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tot
), kn AS (
  SELECT pos.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
    CAST(sum(p.nll_e4) AS BIGINT) AS sum_nll_e4
  FROM pos JOIN p ON pos.w1 = p.w1 AND pos.w2 = p.w2
  GROUP BY pos.doc_id
)
"""

_KN_SQL = _KN_CTES + "SELECT doc_id, n_bigrams, sum_nll_e4 FROM kn"


@register("text_ppl_kn", _KN_SQL)
def q_text_ppl_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram negative-log-likelihood per document
    (the CCNet/KenLM perplexity-filter decision at its real smoothing
    math, trained and scored distributed). Docs with < 2 words have no
    bigrams and are absent, mirrored by the oracle. Independent pure-Python
    reference in tests/test_corpusml_kn.py."""
    return _kn_scores(spark, sf_dir)[0]


def _kn_scores(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """``text_ppl_kn``'s rows and the persisted bigram table they read."""
    d = t(spark, sf_dir, "documents")
    ws = d.select(
        "doc_id", F.expr(_WORDS_SPARK.format(col="lower(text)")).alias("ws")
    ).where(F.size("ws") >= 2)
    pos = ws.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1), "
                "i -> struct(element_at(ws, i) AS w1, "
                "element_at(ws, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    # The bigram-TYPE table feeds FOUR consumers (c12 lookup, left counts,
    # continuation counts, type total); without materialization Catalyst
    # column-prunes each branch differently and re-explodes the CORPUS four
    # times (no exchange reuse). Persisting the Zipf-bounded type table —
    # the same persist discipline as functions/graph.py — caps the corpus
    # work at exactly TWO passes (train + score), the honest LM shape at
    # scale. Repeat invocations hit the same CacheManager entry.
    from pyspark import StorageLevel

    bg = (
        pos.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("double").alias("c12"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    left = bg.groupBy("w1").agg(
        F.sum("c12").alias("c1"),
        F.count(F.lit(1)).cast("double").alias("t1"),
    )
    right = bg.groupBy("w2").agg(
        F.count(F.lit(1)).cast("double").alias("cr")
    )
    tot = bg.agg(F.count(F.lit(1)).cast("double").alias("nt"))
    d_lit = F.lit(0.75)
    prob = ((F.col("c12") - d_lit) / F.col("c1")) + (
        ((d_lit * F.col("t1")) / F.col("c1"))
        * (F.col("cr") / F.col("nt"))
    )
    model = (
        bg.join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.round(-F.log(prob) * 10000, 0).cast("bigint").alias("nll_e4"),
        )
    )
    return (
        pos.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("nll_e4").alias("sum_nll_e4"),
        )
    ), bg


# --- CCNet head/middle/tail perplexity buckets (round 4 late) -------------------------
# CCNet's published pipeline splits each language's corpus into perplexity
# TERCILES — "head" (lowest perplexity, cleanest), "middle", "tail" — and
# most LLM data recipes keep head+middle. This entry composes the KN model
# above into that decision, with the thresholds computed EXACTLY and
# scale-right:
#
#   score      = per-doc avg nll per bigram, integer (sum_nll_e4 div n)
#   thresholds = percentile_disc(1/3), percentile_disc(2/3) of the score
#                distribution — computed as a cumulative sum over the
#                DISTINCT-SCORE histogram, never a global sort of docs:
#                the window runs over |distinct scores| rows (bounded by
#                the e4 quantization, vastly smaller than the corpus),
#                while the doc-level work stays groupBy/broadcast-join.
#   bucket     = score <= t1 -> 'head', <= t2 -> 'middle', else 'tail'
#
# Ties share a bucket (the split is by SCORE, percentile_disc semantics),
# so bucket sizes are n/3 only up to ties — deterministic on both engines,
# no float percentile interpolation anywhere.

_PPL_BUCKETS_SQL = _KN_CTES + """
, scored AS (
  SELECT doc_id, sum_nll_e4 // n_bigrams AS avg_nll_e4 FROM kn
), hist AS (
  SELECT avg_nll_e4, count(*) AS c FROM scored GROUP BY avg_nll_e4
), cum AS (
  SELECT avg_nll_e4, sum(c) OVER (ORDER BY avg_nll_e4) AS cum FROM hist
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM scored
), thr AS (
  SELECT
    min(CASE WHEN cum >= (nd.n + 2) // 3 THEN avg_nll_e4 END) AS t1,
    min(CASE WHEN cum >= (2 * nd.n + 2) // 3 THEN avg_nll_e4 END) AS t2
  FROM cum CROSS JOIN nd
)
SELECT s.doc_id, s.avg_nll_e4,
  CASE WHEN s.avg_nll_e4 <= thr.t1 THEN 'head'
       WHEN s.avg_nll_e4 <= thr.t2 THEN 'middle'
       ELSE 'tail' END AS ppl_bucket
FROM scored s CROSS JOIN thr
"""


@register("pipe_ppl_buckets", _PPL_BUCKETS_SQL)
def q_pipe_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail terciles over the Kneser-Ney doc scores.
    Thresholds via integer-exact percentile_disc on the distinct-score
    histogram (window over bounded-cardinality rows, not a doc sort);
    docs join the 1-row threshold frame broadcast."""
    kn, bg = _kn_scores(spark, sf_dir)
    # `scored` (doc_id + one int — |docs| rows) feeds THREE consumers
    # (histogram, count, final bucket select); without materialization
    # each re-runs the KN scoring join over the corpus. One eager
    # localCheckpoint caps the scoring at a single pass (the
    # dedup_semantic discipline: checkpointed once for its 3 consumers)
    # and, unlike persist, leaks nothing cached to the caller. EAGER:
    # Spark jobs run at DataFrame-construction time here.
    scored = kn.select(
        "doc_id", F.expr("sum_nll_e4 div n_bigrams").alias("avg_nll_e4")
    ).localCheckpoint(eager=True)
    bg.unpersist()
    hist = scored.groupBy("avg_nll_e4").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("avg_nll_e4").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select("avg_nll_e4", F.sum("c").over(w).alias("cum"))
    nd = scored.agg(F.count(F.lit(1)).alias("n"))
    thr = (
        cum.crossJoin(F.broadcast(nd))
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(n + 2) div 3"),
                    F.col("avg_nll_e4"),
                )
            ).alias("t1"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(2 * n + 2) div 3"),
                    F.col("avg_nll_e4"),
                )
            ).alias("t2"),
        )
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "avg_nll_e4",
        F.when(F.col("avg_nll_e4") <= F.col("t1"), F.lit("head"))
        .when(F.col("avg_nll_e4") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


# --- unigram-LM tokenizer (round 4 close) ---------------------------------------------
# The SentencePiece unigram model beside BPE — the two tokenizer-training
# algorithms real LLM pipelines choose between. Rows-only by design like
# the BPE pair (iterative EM is not one SQL query); semantics pinned
# against an independent pure-Python reference in tests/test_unigram.py.


@register("tokenizer_unigram_vocab", None)
def q_tokenizer_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained unigram vocabulary over the documents table:
    (piece, count), deterministic Viterbi-EM (functions/unigram.py)."""
    from ocr_spark.functions.unigram import unigram_train

    vocab = unigram_train(t(spark, sf_dir, "documents"))
    return spark.createDataFrame(vocab, "piece string, count long")


@register("tokenizer_unigram_encode", None)
def q_tokenizer_unigram_encode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Every doc Viterbi-encoded under the trained unigram vocab:
    (doc_id, n_words, n_tokens), Arrow-batched."""
    from ocr_spark.functions.unigram import unigram_encode, unigram_train

    d = t(spark, sf_dir, "documents")
    return unigram_encode(d, unigram_train(d))
