"""Corpus-preparation pipeline operators a large-scale training-data run
needs beyond extraction + dedup + ANN: URL canonicalization, repetition
quality signals (Gopher-style), benchmark-contamination detection,
deterministic stratified sampling, token-budget sequence packing, and PII
scrubbing.

Same contract as every other registry module: each query is a declarative
DataFrame plan with an exactly-equivalent DuckDB oracle (value-hash checked
by the driver and by tests/test_oracle.py). All randomness is md5-derived so
both engines compute identical bits; no Python UDFs anywhere.

Scale notes live on each query's docstring; plan shapes are pinned in
tests/test_plans.py and documented in PLANS.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_spark.queries import register, t
from ocr_spark.queries_textml import (
    _SHASH_SQL,
    _SHINGLES_SPARK,
    _SHINGLES_SQL,
    _WORDS_SPARK,
    _bands_sql,
    _sigs_sql,
    BANDS,
    NUM_PERMS,
    ROWS_PER_BAND,
)

# DuckDB word splitter (same semantics as _WORDS_SPARK: drop empty tokens)
_WORDS_SQL_COL = "list_filter(string_split({col}, ' '), x -> x != '')"


# --- URL canonicalization + dedup -------------------------------------------------
# Web crawls see the same page under dozens of URL spellings: case-varied
# hosts, tracking params (utm_*, session ids), fragments, trailing slashes.
# Canonicalize first, then the dedup is a plain hash groupBy on the canonical
# key — identical shuffle shape to dedup_exact, no skew beyond true dup
# clusters. URLs are synthesized deterministically from documents columns
# (same device as derive_host) because the driver tables carry no URL column.

@register(
    "pipe_url_canon",
    """
WITH u AS (
  SELECT doc_id,
    'HTTPS://WWW.' || source || '.Example.COM/d/'
      || CAST(doc_id % 100 AS VARCHAR)
      || '/?utm_source=feed&session=' || CAST(doc_id AS VARCHAR)
      || '#frag' AS url
  FROM documents
), c AS (
  SELECT doc_id,
    regexp_replace(
      regexp_replace(lower(regexp_replace(url, '[?#].*$', '')), '/$', ''),
      '^https://www\\.', 'https://') AS canon_url
  FROM u
)
SELECT canon_url, count(*) AS n_dups, min(doc_id) AS keeper
FROM c GROUP BY canon_url
""",
)
def q_pipe_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize (strip query/fragment, trailing slash, www., lowercase)
    then group by the canonical URL. Map-side expressions + one hash
    aggregate: the exact plan of dedup_exact, so the 100 TB story is the
    same — partial aggregation before the exchange, shuffle keyed on the
    canonical URL."""
    d = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.COM/d/"),
        (F.col("doc_id") % 100).cast("string"),
        F.lit("/?utm_source=feed&session="),
        F.col("doc_id").cast("string"), F.lit("#frag"),
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_replace(url, r"[?#].*$", "")), r"/$", ""
        ),
        r"^https://www\.", "https://",
    )
    return d.select(canon.alias("canon_url"), "doc_id").groupBy("canon_url").agg(
        F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keeper")
    )


# --- Gopher-style repetition / diversity signals -----------------------------------
# The classic filter for machine-generated or boilerplate text: how much of
# the document is its single most frequent word (unigram repetition), its
# most frequent word bigram, and how lexically diverse it is. Two explode →
# count branches joined back on doc_id.

@register(
    "pipe_repetition",
    """
WITH w AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
  FROM documents
), uc AS (
  SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w
), uni AS (
  SELECT doc_id,
    CAST(sum(c) AS BIGINT) AS n_words,
    CAST(count(*) AS BIGINT) AS n_distinct,
    CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_word_frac
  FROM uc GROUP BY doc_id
), bg AS (
  SELECT doc_id, unnest(
    list_transform(generate_series(1, greatest(len(w2) - 1, 0)),
                   i -> w2[i] || ' ' || w2[i + 1])) AS b
  FROM (SELECT doc_id,
          list_filter(string_split(text, ' '), x -> x != '') AS w2
        FROM documents)
), bc AS (
  SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b
), bi AS (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
    AS top_bigram_frac
  FROM bc GROUP BY doc_id
)
SELECT uni.doc_id, n_words, n_distinct, top_word_frac,
  CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) AS distinct_frac,
  coalesce(bi.top_bigram_frac, 0.0) AS top_bigram_frac
FROM uni LEFT JOIN bi ON uni.doc_id = bi.doc_id
""",
)
def q_pipe_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-quality signals (top-unigram fraction, top-bigram
    fraction, distinct-word ratio). Both branches shuffle on (doc_id, gram)
    with map-side partial counts, then re-aggregate on doc_id — at 100 TB
    the gram key is high-cardinality and skew-free (a single doc's grams
    land in one partition only for the final doc_id agg, bounded by doc
    length). Fractions are single IEEE divisions of exact integer
    aggregates, so the doubles are bit-identical across engines."""
    d = t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.expr(_WORDS_SPARK.format(col="text"))).alias("w")
    )
    uc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    uni = uc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
            "top_word_frac"
        ),
    )
    bigrams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(w2, 1, greatest(size(w2) - 1, 0)),"
                " slice(w2, 2, greatest(size(w2) - 1, 0)),"
                " (a, b) -> concat(a, ' ', b))".replace(
                    "w2", _WORDS_SPARK.format(col="text")
                )
            )
        ).alias("b"),
    )
    bc = bigrams.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
    bi = bc.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
            "top_bigram_frac"
        )
    )
    return (
        uni.join(bi, "doc_id", "left")
        .select(
            "doc_id", "n_words", "n_distinct", "top_word_frac",
            (F.col("n_distinct").cast("double") / F.col("n_words").cast("double"))
            .alias("distinct_frac"),
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        )
    )


# --- benchmark contamination check -------------------------------------------------
# Before training, every corpus must be screened against the eval suites:
# any document sharing word n-grams with a benchmark is contaminated. The
# eval set here is carved deterministically out of documents (doc_id % 50 =
# 0 — benchmark suites are kilobytes against a corpus of terabytes, which is
# exactly why the broadcast below is the right plan at 100 TB).

@register(
    "pipe_contamination",
    f"""
WITH evw AS (
  SELECT list_filter(string_split(text, ' '), x -> x != '') AS w
  FROM documents WHERE doc_id % 50 = 0
), ev AS (
  SELECT DISTINCT md5(sh) AS h
  FROM (SELECT unnest({_SHINGLES_SQL}) AS sh FROM evw)
), trw AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
  FROM documents WHERE doc_id % 50 <> 0
), tr AS (
  SELECT doc_id, md5(sh) AS h
  FROM (SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM trw)
)
SELECT tr.doc_id, count(DISTINCT tr.h) AS n_hit_ngrams
FROM tr JOIN ev ON tr.h = ev.h
GROUP BY tr.doc_id
""",
)
def q_pipe_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram overlap between the training split and a (small) eval
    split. The eval n-gram set is explicitly broadcast: the train side — the
    100 TB side — is never shuffled for the join; the only exchange is the
    final doc_id aggregate over the (rare) hits. Shingle hashing reuses the
    MinHash module's md5 shingle exprs, so both engines hash identical
    grams."""
    d = t(spark, sf_dir, "documents")
    words = F.expr(_WORDS_SPARK.format(col="text"))
    ev = (
        d.filter(F.col("doc_id") % 50 == 0)
        .select(words.alias("w"))
        .select(F.explode(F.expr(_SHINGLES_SPARK)).alias("sh"))
        .select(F.md5("sh").alias("h"))
        .distinct()
    )
    tr = (
        d.filter(F.col("doc_id") % 50 != 0)
        .select("doc_id", words.alias("w"))
        .select("doc_id", F.explode(F.expr(_SHINGLES_SPARK)).alias("sh"))
        .select("doc_id", F.md5("sh").alias("h"))
    )
    hits = tr.join(F.broadcast(ev), "h")
    return hits.groupBy("doc_id").agg(
        F.count_distinct("h").alias("n_hit_ngrams")
    )


# --- deterministic stratified sampling ---------------------------------------------
# Corpus mixing wants per-language (per-source, per-quality-bucket...)
# sampling rates. Random sampling is irreproducible across engines and
# retries; hashing the key gives an exact, engine-independent, resumable
# sample: keep iff the first md5 hex digit falls under the stratum's
# threshold ('8' → 8/16 = 50 %, '4' → 4/16 = 25 %).

@register(
    "pipe_sample_stratified",
    """
SELECT doc_id, lang, source FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
  CASE WHEN lang = 'en' THEN '8' ELSE '4' END
""",
)
def q_pipe_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-threshold stratified sampling: 50 % of en docs, 25 % of the
    rest, decided by md5(doc_id) so the sample is identical on every engine,
    every retry, every cluster size. Map-only — no shuffle, no state; at
    100 TB this is a pure scan + filter whose selectivity is exactly the
    configured mix."""
    d = t(spark, sf_dir, "documents")
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    thresh = F.when(F.col("lang") == "en", F.lit("8")).otherwise(F.lit("4"))
    return d.filter(digit < thresh).select("doc_id", "lang", "source")


# --- token-budget sequence packing -------------------------------------------------
# Training consumes fixed-length sequences; documents get greedily packed
# into ~BUDGET-token bins. Packing is per-source (per-shard in production):
# a global order would serialize the whole corpus through one partition,
# while per-shard packing is what data loaders actually do.

_PACK_BUDGET = 2048

@register(
    "pipe_pack_sequences",
    f"""
WITH d AS (
  SELECT doc_id, source,
    len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
      AS tok_before
  FROM d
)
SELECT source, CAST(tok_before // {_PACK_BUDGET} AS BIGINT) AS seq_id,
  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
  min(doc_id) AS first_doc
FROM c GROUP BY source, CAST(tok_before // {_PACK_BUDGET} AS BIGINT)
""",
)
def q_pipe_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token packing: running token count per source (window), bin =
    tokens-before // budget, then per-bin stats. The window partitions by
    source, so parallelism = number of shards (at 100 TB you pack within
    input shards, never a global ORDER BY — a total order would funnel the
    corpus through one task). Integer arithmetic end-to-end: exact parity."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.size(F.expr(_WORDS_SPARK.format(col="text"))).cast("bigint")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn(
        "tok_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    seq = (F.col("tok_before") / F.lit(_PACK_BUDGET)).cast("bigint")
    return (
        c.select("source", seq.alias("seq_id"), "n_tokens", "doc_id")
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


_PACK_SHARDS = 64


@register(
    "pipe_pack_hashed",
    f"""
WITH d AS (
  SELECT doc_id, doc_id % {_PACK_SHARDS} AS pack_shard,
    len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, pack_shard, n_tokens,
    sum(n_tokens) OVER (PARTITION BY pack_shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
      AS tok_before
  FROM d
)
SELECT pack_shard, CAST(tok_before // {{budget}} AS BIGINT) AS seq_id,
  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
  min(doc_id) AS first_doc
FROM c GROUP BY pack_shard, CAST(tok_before // {{budget}} AS BIGINT)
""".replace("{budget}", str(_PACK_BUDGET)),
)
def q_pipe_pack_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token packing under a HIGH-CARDINALITY shard key (doc_id mod 64 —
    the oracle-mirrorable stand-in for the operator's default
    pmod(xxhash64(id), P), which DuckDB cannot reproduce). This is the
    production shape: packing parallelism = num_shards regardless of how
    few values a data column like `source` has, so the window never
    funnels the corpus through a handful of tasks. Exercises
    operators/corpus.pack_sequences end-to-end; budget invariance across
    shard counts is property-tested in tests/test_corpus.py."""
    from ocr_spark.operators.corpus import pack_sequences

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(_PACK_SHARDS)).alias("pack_shard"),
        F.size(F.expr(_WORDS_SPARK.format(col="text"))).cast("bigint")
        .alias("n_tokens"),
    )
    packed = pack_sequences(
        d, _PACK_BUDGET, shard_col="pack_shard", tokens_col="n_tokens"
    )
    return packed.groupBy("pack_shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


# --- PII scrubbing ------------------------------------------------------------------
# Web text must be scrubbed of emails / IPs before training. The driver's
# synthetic text contains none, so deterministic PII is injected first (same
# synthesize-then-operate device as derive_host / pipe_url_canon); the md5
# of the scrubbed text proves both engines performed identical replacements.
# Patterns stay inside the Java-regex ∩ RE2 common subset (char classes,
# bounded repeats — no backrefs/lookarounds).

_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+"
_IP_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

@register(
    "pipe_scrub_pii",
    f"""
WITH x AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
      || '@mail.example.com or 10.0.'
      || CAST(doc_id % 256 AS VARCHAR) || '.7 now' AS dirty
  FROM documents WHERE doc_id % 5 = 0
)
SELECT doc_id,
  CAST(len(regexp_extract_all(dirty, '{_EMAIL_RE}')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(dirty, '{_IP_RE}')) AS INT) AS n_ips,
  md5(regexp_replace(
    regexp_replace(dirty, '{_EMAIL_RE}', '<EMAIL>', 'g'),
    '{_IP_RE}', '<IP>', 'g')) AS scrub_md5
FROM x
""",
)
def q_pipe_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction (emails, IPv4) with per-doc redaction counts and
    an md5 over the scrubbed text. Map-only JVM regex — no shuffle, no
    Python; at 100 TB this fuses into the scan's codegen stage."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    dirty = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@mail.example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".7 now"),
    )
    x = d.select("doc_id", dirty.alias("dirty"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("dirty"), _EMAIL_RE, "<EMAIL>"),
        _IP_RE, "<IP>",
    )
    return x.select(
        "doc_id",
        F.regexp_count(F.col("dirty"), F.lit(_EMAIL_RE)).cast("int")
        .alias("n_emails"),
        F.regexp_count(F.col("dirty"), F.lit(_IP_RE)).cast("int")
        .alias("n_ips"),
        F.md5(scrubbed).alias("scrub_md5"),
    )


# --- quality filter decision + integrated funnel ----------------------------------
# The decision operators behind scripts/corpus_job.py, exposed as oracle
# queries. Implementations live in ocr_spark/operators/corpus.py; the SQL
# below is the DuckDB mirror of the same integer-exact predicates.

# shared SQL fragment: per-doc word stats + flags over an input CTE named
# "tr" carrying (doc_id, text, ...). Mirrors corpus.quality_flags exactly:
# flag 1 short (< 20 words), 2 repetitive (top word > 20% = 5*max_c >
# n_words), 4 low diversity (distinct < 30% = 10*n_distinct < 3*n_words),
# 8 mean word length outside [4.04, 5.2] (25*tc < 101*nw or 5*tc > 26*nw).
_QFLAGS_SQL = """
wx AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != ''))
    AS w
  FROM tr
), uc AS (
  SELECT doc_id, w, count(*) AS c FROM wx GROUP BY doc_id, w
), st AS (
  SELECT doc_id, sum(c) AS n_words, count(*) AS n_distinct,
    max(c) AS max_c, sum(c * len(w)) AS total_chars
  FROM uc GROUP BY doc_id
), fl AS (
  SELECT tr.*,
    CAST(coalesce(st.n_words, 0) AS BIGINT) AS n_words,
    CAST(
      CASE WHEN coalesce(st.n_words, 0) < 20 THEN 1 ELSE 0 END
      + CASE WHEN 5 * coalesce(st.max_c, 0) > coalesce(st.n_words, 0)
          THEN 2 ELSE 0 END
      + CASE WHEN 10 * coalesce(st.n_distinct, 0)
            < 3 * coalesce(st.n_words, 0) THEN 4 ELSE 0 END
      + CASE WHEN 25 * coalesce(st.total_chars, 0)
            < 101 * coalesce(st.n_words, 0)
          OR 5 * coalesce(st.total_chars, 0)
            > 26 * coalesce(st.n_words, 0) THEN 8 ELSE 0 END
    AS INT) AS flags
  FROM tr LEFT JOIN st USING (doc_id)
)
"""


@register(
    "pipe_quality_filter",
    "WITH tr AS (SELECT doc_id, text FROM documents),"
    + _QFLAGS_SQL
    + """
SELECT doc_id, n_words, flags, flags = 0 AS keep FROM fl
""",
)
def q_pipe_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style keep/drop decision per doc with a reason bitmask. Every
    threshold is an integer comparison of exact counts (`5*max_c > n_words`
    is "top word > 20%" with no IEEE divide in the decision), so keep/drop
    is bit-identical across engines and retries. Plan: the pipe_repetition
    shuffle shape ((doc_id, word) then doc_id partial counts) + a doc_id
    join back to the input."""
    from ocr_spark.operators.corpus import quality_flags

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return quality_flags(d).select(
        "doc_id", "n_words", "flags", F.col("q_keep").alias("keep")
    )


@register(
    "pipe_funnel",
    "WITH tr AS (SELECT doc_id, text, lang FROM documents"
    " WHERE doc_id % 50 <> 0),"
    + _QFLAGS_SQL
    + f"""
, q AS (SELECT doc_id, text, lang, n_words FROM fl WHERE flags = 0),
e AS (
  SELECT doc_id, text, lang, n_words FROM (
    SELECT q.*, row_number() OVER (
      PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM q
  ) WHERE rn = 1
),
ww AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
  FROM e
),
shd AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM ww),
hvd AS (
  SELECT doc_id, list_transform(sh, s -> {_SHASH_SQL}) AS hv
  FROM shd WHERE len(sh) > 0
),
sig AS (SELECT doc_id, {_sigs_sql(NUM_PERMS)} AS sigs FROM hvd)
{_bands_sql(BANDS, ROWS_PER_BAND)},
bm AS (SELECT bi, band, min(doc_id) AS bmin FROM bands GROUP BY bi, band),
rep AS (
  SELECT b.doc_id, min(bm.bmin) AS rep
  FROM bands b JOIN bm ON b.bi = bm.bi AND b.band = bm.band
  GROUP BY b.doc_id
),
n AS (
  SELECT e.* FROM e LEFT JOIN rep USING (doc_id)
  WHERE rep IS NULL OR rep = doc_id
),
evw AS (
  SELECT list_filter(string_split(text, ' '), x -> x != '') AS w
  FROM documents WHERE doc_id % 50 = 0
),
evg AS (
  SELECT DISTINCT md5(sh) AS h
  FROM (SELECT unnest({_SHINGLES_SQL}) AS sh FROM evw)
),
trg AS (
  SELECT doc_id, {_SHINGLES_SQL} AS shl
  FROM (SELECT doc_id,
          list_filter(string_split(text, ' '), x -> x != '') AS w
        FROM n) z
),
hit AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest(shl) AS sh FROM trg) u
  WHERE md5(sh) IN (SELECT h FROM evg)
),
c AS (SELECT * FROM n WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
s AS (
  SELECT * FROM c
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
    < CASE WHEN lang = 'en' THEN '8' ELSE '4' END
)
SELECT '0_input' AS stage, CAST(count(*) AS BIGINT) AS n FROM documents
UNION ALL SELECT '1_train', CAST(count(*) AS BIGINT) FROM tr
UNION ALL SELECT '2_quality', CAST(count(*) AS BIGINT) FROM q
UNION ALL SELECT '3_exact', CAST(count(*) AS BIGINT) FROM e
UNION ALL SELECT '4_near', CAST(count(*) AS BIGINT) FROM n
UNION ALL SELECT '5_clean', CAST(count(*) AS BIGINT) FROM c
UNION ALL SELECT '6_sampled', CAST(count(*) AS BIGINT) FROM s
UNION ALL SELECT '7_tokens', CAST(coalesce(sum(n_words), 0) AS BIGINT) FROM s
""",
)
def q_pipe_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The integrated corpus-preparation funnel as ONE driver-graded plan:
    eval/train split -> quality filter -> exact dedup -> MinHash near-dedup
    -> contamination screen -> stratified sample, reporting one (stage, n)
    row per stage plus the final token count. This is the value-hash
    evidence that the stage chain scripts/corpus_job.py runs at production
    width composes correctly end-to-end (here at the 16-perm oracle width).
    Scale: each stage's plan is the audited shape of its standalone query;
    the unioned count branches recompute the lazy prefix at oracle scale,
    while the production job persists the two reused stages instead
    (operators/corpus.funnel_stages(persist=True))."""
    from ocr_spark.operators.corpus import funnel_report, funnel_stages

    d = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return funnel_report(funnel_stages(d))


# --- systematic (stride) weighted sampling ----------------------------------------------
# pipe_sample_stratified is Bernoulli: each doc decides independently, so
# the realized token budget has binomial variance. Systematic sampling
# walks the cumulative-weight axis with a fixed stride T and keeps the doc
# covering each multiple of T: realized budget = total/T docs (+-1 per
# bucket), inclusion probability ~ w/T (length-proportional), and every
# step is exact BIGINT. Order inside each bucket is the md5 hex of doc_id
# — a deterministic decorrelated permutation, identical in both engines.
# Bucketing (P=8 on the md5 integer) bounds the window partition: the
# prefix sum runs per bucket, so parallelism is P (the knob to raise at
# corpus scale), never a single global sort.

_SAMPLE_STRIDE = 4096  # chars of cumulative weight per kept doc

_SYS_KEY_SPARK = "md5(CAST(doc_id AS STRING))"
_SYS_KEY_SQL = "md5(CAST(doc_id AS VARCHAR))"
# first md5 hex digit -> 0..15 -> % 8: cheap portable bucket
_SYS_BKT_SPARK = (
    f"CAST(conv(substring({_SYS_KEY_SPARK}, 1, 1), 16, 10) AS BIGINT) % 8"
)
_SYS_BKT_SQL = (
    f"(CAST(strpos('0123456789abcdef', substr({_SYS_KEY_SQL}, 1, 1)) - 1"
    f" AS BIGINT)) % 8"
)

_SYS_SQL = f"""
SELECT doc_id, n_chars, bucket, cum
FROM (
  SELECT doc_id, n_chars, bucket,
    CAST(sum(n_chars) OVER (
      PARTITION BY bucket ORDER BY h
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS cum
  FROM (
    SELECT doc_id, n_chars, {_SYS_KEY_SQL} AS h, {_SYS_BKT_SQL} AS bucket
    FROM documents
  )
)
WHERE cum // {_SAMPLE_STRIDE} > (cum - n_chars) // {_SAMPLE_STRIDE}
"""


@register("pipe_sample_systematic", _SYS_SQL)
def q_pipe_sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic weighted sample: keep the doc whose
    cumulative n_chars span (in md5-permuted order, per bucket) crosses
    a multiple of the stride. Integer-exact throughout — the kept set is
    a pure function of (doc_id, n_chars), low-variance in realized
    budget, and length-proportional in inclusion probability."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.expr(_SYS_KEY_SPARK).alias("h"),
        F.expr(_SYS_BKT_SPARK).alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.withColumn("cum", F.sum("n_chars").over(w))
    k = _SAMPLE_STRIDE
    # integer DIV, not a double divide: cum outgrows 2^53 at corpus scale
    return cum.filter(
        F.expr(f"cum DIV {k} > (cum - n_chars) DIV {k}")
    ).select("doc_id", "n_chars", "bucket", "cum")


# --- C4-style line-level cleaning ---------------------------------------------------
# Raffel et al. 2020's C4 cleaning is LINE-grained: keep a line only if it
# ends in terminal punctuation, has >= 3 words, and mentions none of the
# junk markers (lorem ipsum / javascript); drop the whole document if it
# ever opens a curly brace or keeps < 3 lines. The synthetic corpus has no
# newlines, so lines are synthesized deterministically (7 words per line,
# terminal mark cycling . ! ? and MISSING every 4th line) and three junk
# families are injected by doc_id arithmetic — every rule fires in both
# polarities and the oracle rebuilds the same lines from first principles.
# All ops are JVM array HOFs over one scan; no explode, no shuffle.

_C4_LINES_SPARK = """
concat(
  transform(sequence(1, greatest(CAST((size({w}) + 6) div 7 AS INT), 1)),
    i -> concat(array_join(slice({w}, (i - 1) * 7 + 1, 7), ' '),
      element_at(array('.', '!', '?', ''),
        CAST((doc_id * 31 + i) % 4 AS INT) + 1))),
  slice(array('lorem ipsum dolor sit.'), 1,
    CASE WHEN doc_id % 37 = 0 THEN 1 ELSE 0 END),
  slice(array('enable javascript to view this page.'), 1,
    CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END),
  slice(array('function f() {{'), 1,
    CASE WHEN doc_id % 41 = 0 THEN 1 ELSE 0 END)
)
""".format(w="filter(split(text, ' '), x -> x != '')")

_C4_KEEP_SPARK = """
filter({lines}, l ->
  substr(l, length(l), 1) IN ('.', '!', '?')
  AND size(filter(split(l, ' '), x -> x != '')) >= 3
  AND NOT contains(l, 'lorem ipsum')
  AND NOT contains(l, 'javascript')
  AND NOT contains(l, '{{'))
"""

_C4_LINES_SQL = """
list_concat(
  list_concat(
    list_transform(generate_series(1, greatest(CAST((len({w}) + 6) // 7 AS INT), 1)),
      i -> array_to_string(list_slice({w}, (i - 1) * 7 + 1, (i - 1) * 7 + 7), ' ')
        || list_extract(['.', '!', '?', ''],
             CAST((doc_id * 31 + i) % 4 AS INT) + 1)),
    CASE WHEN doc_id % 37 = 0 THEN ['lorem ipsum dolor sit.']
         ELSE [] END),
  list_concat(
    CASE WHEN doc_id % 13 = 0 THEN ['enable javascript to view this page.']
         ELSE [] END,
    CASE WHEN doc_id % 41 = 0 THEN ['function f() {{'] ELSE [] END)
)
""".format(w="list_filter(string_split(text, ' '), x -> x != '')")

_C4_KEEP_SQL = """
list_filter({lines}, l ->
  substr(l, length(l), 1) IN ('.', '!', '?')
  AND len(list_filter(string_split(l, ' '), x -> x != '')) >= 3
  AND NOT contains(l, 'lorem ipsum')
  AND NOT contains(l, 'javascript')
  AND NOT contains(l, '{{'))
"""

_C4_SQL = f"""
SELECT doc_id,
  CAST(len(lines) AS BIGINT) AS n_lines,
  CAST(len(kept) AS BIGINT) AS n_kept,
  CASE WHEN len(list_filter(lines, l -> contains(l, '{{'))) = 0
        AND len(kept) >= 3 THEN 1 ELSE 0 END AS kept_doc,
  CASE WHEN len(list_filter(lines, l -> contains(l, '{{'))) = 0
        AND len(kept) >= 3
       THEN array_to_string(kept, chr(10)) ELSE '' END AS clean_text
FROM (
  SELECT doc_id, lines, {_C4_KEEP_SQL.format(lines="lines")} AS kept
  FROM (SELECT doc_id, {_C4_LINES_SQL} AS lines FROM documents)
)
"""


@register("pipe_c4_rules", _C4_SQL)
def q_pipe_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020): terminal-punctuation
    and >=3-word line gates, lorem-ipsum / javascript line drops, whole-
    document rejection on any '{' or on < 3 surviving lines, kept lines
    reassembled in order. One narrow map over the scan — the line grain
    never explodes into rows."""
    d = t(spark, sf_dir, "documents")
    lines = d.select("doc_id", F.expr(_C4_LINES_SPARK).alias("lines"))
    kept = lines.select(
        "doc_id",
        "lines",
        F.expr(_C4_KEEP_SPARK.format(lines="lines")).alias("kept"),
    )
    brace = "size(filter(lines, l -> contains(l, '{'))) = 0"
    return kept.select(
        "doc_id",
        F.expr("CAST(size(lines) AS BIGINT)").alias("n_lines"),
        F.expr("CAST(size(kept) AS BIGINT)").alias("n_kept"),
        F.expr(
            f"CASE WHEN {brace} AND size(kept) >= 3 THEN 1 ELSE 0 END"
        ).alias("kept_doc"),
        F.expr(
            f"CASE WHEN {brace} AND size(kept) >= 3"
            " THEN array_join(kept, char(10)) ELSE '' END"
        ).alias("clean_text"),
    )


# --- A-ES weighted reservoir sampling ----------------------------------------------
# Efraimidis & Spirakis 2006: weighted sampling WITHOUT replacement ranks
# items by u_i^(1/w_i) (equivalently by the minimum of w_i Exp(1) clocks)
# and keeps the top K. The float-free spelling used here: an item of
# integer weight w enters w independent uniform draws and its priority is
# the MAXIMUM draw — ranking by max-of-w-uniforms descending is exactly
# ranking by min-of-w-exponentials ascending (P(max U < t) = t^w and
# -ln U ~ Exp(1), both monotone), so the kept set IS the A-ES sample with
# the weight granularity documented below, and every comparison is BIGINT
# (the ln/pow spelling would hash-diverge across engines in the last ulp).
# Weight = 1 + n_chars DIV 256 capped at 64 draws (length-proportional at
# 256-char granularity; the cap bounds per-row cost). Draw j is the first
# 13 md5 hex digits of "doc_id#j" — 52-bit integers, identical in both
# engines.
#
# Scale shape: priorities are map-side column math; ORDER BY + LIMIT K
# plans as TakeOrderedAndProject = per-partition top-K then a K*P-row
# driver merge — the distributed-reservoir merge law itself (each task
# keeps a K-bounded reservoir; merging reservoirs by priority equals the
# global sample). No shuffle of the corpus, ever.

_RES_K = 100  # reservoir size
_RES_CAP = 64  # max draws per doc (weight granularity cap)

_RES_W_SPARK = f"CAST(least(1 + n_chars DIV 256, {_RES_CAP}) AS BIGINT)"
_RES_W_SQL = f"CAST(least(1 + n_chars // 256, {_RES_CAP}) AS BIGINT)"

_RES_DRAW_SPARK = (
    "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), '#',"
    " CAST(j AS STRING))), 1, 13), 16, 10) AS BIGINT)"
)
# 13-hex-digit md5 prefix as a BIGINT, digit-summed (DuckDB has no conv)
_RES_DRAW_SQL = (
    "CAST(list_aggregate(list_transform(generate_series(1, 13), k ->"
    " CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)"
    " || '#' || CAST(j AS VARCHAR)), k, 1)) - 1 AS BIGINT)"
    " * (1 << (4 * (13 - k)))), 'sum') AS BIGINT)"
)

_RES_SQL = f"""
SELECT doc_id, n_chars, w, priority
FROM (
  SELECT doc_id, n_chars, w,
    list_aggregate(list_transform(generate_series(1, CAST(w AS INT)),
      j -> {_RES_DRAW_SQL}), 'max') AS priority
  FROM (SELECT doc_id, n_chars, {_RES_W_SQL} AS w FROM documents)
)
ORDER BY priority DESC, doc_id
LIMIT {_RES_K}
"""


@register("pipe_sample_reservoir", _RES_SQL)
def q_pipe_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample (A-ES, integer-exact): top-K docs by
    max-of-w-uniform-draws priority, w length-proportional. Plans as
    TakeOrderedAndProject — per-partition K-bounded reservoirs merged at
    the driver, the same merge law a 1000-executor reservoir uses."""
    return reservoir_candidates(t(spark, sf_dir, "documents"), _RES_K)


def reservoir_candidates(df: DataFrame, k: int = _RES_K) -> DataFrame:
    """(doc_id, n_chars, w, priority) top-k candidate reservoir of ``df``
    under the A-ES priority above — the per-slice reduction both the
    batch entry and the streaming committer share. Priorities are pure
    functions of (doc_id, n_chars), so reservoirs from ANY slicing of
    the corpus merge (top-k of the union of per-slice top-k's) to the
    global sample."""
    d = df.select("doc_id", "n_chars", F.expr(_RES_W_SPARK).alias("w"))
    pri = d.select(
        "doc_id",
        "n_chars",
        "w",
        F.expr(
            "array_max(transform(sequence(1, CAST(w AS INT)),"
            f" j -> {_RES_DRAW_SPARK}))"
        ).alias("priority"),
    )
    return pri.orderBy(F.desc("priority"), "doc_id").limit(k)


_STREAM_RES_SQL = _RES_SQL  # batching cannot move the kept set


@register("stream_reservoir", _STREAM_RES_SQL)
def q_stream_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reservoir merge law under the streaming committer: the corpus
    arrives as 3 file micro-batches, each commits its ≤K-row candidate
    reservoir exactly-once, and the folded top-K equals the BATCH sample
    — graded by the SAME oracle as pipe_sample_reservoir, which is
    precisely the A-ES merge property (any slicing folds to the one
    true reservoir)."""
    import os
    import tempfile

    from ocr_spark.streaming.incremental import (
        incremental_reservoir,
        reservoir_totals,
    )

    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    work = tempfile.mkdtemp(prefix="ocr-spark-stream-res-")
    src = os.path.join(work, "src")
    d.repartition(3).write.parquet(src)
    out = os.path.join(work, "res")
    ckpt = os.path.join(work, "ckpt")
    writer, _ = incremental_reservoir(spark, src, d.schema, out, ckpt)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return reservoir_totals(spark, out)


# --- dataset card (round 4 close) ----------------------------------------------------
# The one-row datasheet a corpus release ships with (Gebru et al.'s
# "datasheets for datasets" reduced to its computable core): sizes,
# token totals, source/lang coverage, the exact-dup rate, and source
# balance as the GINI-SIMPSON diversity 1 - sum(p_i^2) — chosen over
# Shannon entropy deliberately: it is a RATIONAL statistic (sum of
# squared integer counts over N^2), so the card stays transcendental-
# free and bit-identical across engines (the rational-sigmoid
# discipline). One scan + one source rollup + tiny reductions.

_CARD_SQL = """
WITH s AS (
  SELECT source, count(*) AS c FROM documents GROUP BY 1
),
l AS (
  SELECT lang, count(*) AS c FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
    CAST(sum(len(list_filter(string_split(text, ' '), x -> x != '')))
         AS BIGINT) AS n_tokens_total,
    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
  FROM documents
)
SELECT t.n_docs,
  (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_sources,
  (SELECT CAST(count(*) AS BIGINT) FROM l) AS n_langs,
  t.n_chars_total, t.n_tokens_total,
  CAST(t.n_chars_total // t.n_docs AS BIGINT) AS mean_chars,
  CAST((t.n_docs - t.n_distinct) * 1000000 // t.n_docs AS BIGINT)
    AS dup_rate_e6,
  CAST(1000000 - (SELECT sum(c * c) FROM s) * 1000000
       // (t.n_docs * t.n_docs) AS BIGINT) AS simpson_diversity_e6,
  (SELECT source FROM s ORDER BY c DESC, source LIMIT 1) AS top_source,
  (SELECT lang FROM l ORDER BY c DESC, lang LIMIT 1) AS top_lang
FROM tot t
"""


@register("profile_dataset_card", _CARD_SQL)
def q_profile_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus datasheet (block comment)."""
    d = t(spark, sf_dir, "documents")
    tot = d.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars_total"),
        F.expr(
            "CAST(sum(size(filter(split(text, ' '), x -> x != '')))"
            " AS BIGINT)"
        ).alias("n_tokens_total"),
        F.countDistinct(F.md5("text")).cast("bigint").alias("n_distinct"),
    )
    s = d.groupBy("source").agg(F.count("*").alias("c"))
    l = d.groupBy("lang").agg(F.count("*").alias("c"))
    s_stats = s.agg(
        F.count("*").cast("bigint").alias("n_sources"),
        F.expr("CAST(sum(c * c) AS BIGINT)").alias("sumsq"),
    )
    l_stats = l.agg(F.count("*").cast("bigint").alias("n_langs"))
    top_s = s.orderBy(F.desc("c"), "source").limit(1).select(
        F.col("source").alias("top_source")
    )
    top_l = l.orderBy(F.desc("c"), "lang").limit(1).select(
        F.col("lang").alias("top_lang")
    )
    return (
        tot.crossJoin(F.broadcast(s_stats))
        .crossJoin(F.broadcast(l_stats))
        .crossJoin(F.broadcast(top_s))
        .crossJoin(F.broadcast(top_l))
        .select(
            "n_docs", "n_sources", "n_langs", "n_chars_total",
            "n_tokens_total",
            F.expr("CAST(n_chars_total DIV n_docs AS BIGINT)").alias(
                "mean_chars"
            ),
            F.expr(
                "CAST((n_docs - n_distinct) * 1000000 DIV n_docs"
                " AS BIGINT)"
            ).alias("dup_rate_e6"),
            F.expr(
                "CAST(1000000 - sumsq * 1000000 DIV (n_docs * n_docs)"
                " AS BIGINT)"
            ).alias("simpson_diversity_e6"),
            "top_source", "top_lang",
        )
    )


@register("pipe_pack_ffd", None)
def q_pipe_pack_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing packing over the hashed shard key
    (operators/corpus.pack_sequences_ffd): docs stay whole, bins respect
    the budget, oversized docs get singleton bins. Rows-only by design
    (the first-fit scan is not one SQL query); reference-gated in
    tests/test_corpus.py."""
    from ocr_spark.operators.corpus import pack_sequences_ffd

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "size(filter(split(text, ' '), x -> x != ''))"
        ).alias("n_words"),
    )
    return pack_sequences_ffd(d, budget=512, num_shards=16)
