"""Exploded (op-by-op) formulation of the extraction pipeline.

The production path (:mod:`ocr_spark.operators.extract`) runs ops 13-17 per
document in Python, inside its single parse hop — no shuffle. This module is
the same SPEC.md semantics written in JVM column expressions, as the
individual SURVEY.md §2 operators over one-row-per-block DataFrames:

    op 12 posexplode_outer -> op 13 classify (column exprs) ->
    op 14 smoothing via url-window last/first(ignorenulls) ->
    op 15 span offsets via running-sum window frame ->
    op 17 assembly via groupBy(url, warc_ts) + sort_array(collect_list)

It exists (a) as the reference shape for users who need block-level rows
(e.g. to join per-block features), and (b) as an independent implementation
whose output must be byte-identical to the fused path — tests/test_exploded.py
asserts equality on the full fixture corpus, which cross-checks the Python
tail against a JVM formulation. It costs two shuffles (the
window and the groupBy), which is exactly why the fused form is the default.

Document identity is (url, warc_ts): recrawls of a url are distinct docs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark import spec
from ocr_spark.operators.extract import SPANS_DDL, parse_pages, with_part_id

_EDGE = ("good", "bad")
_SEP_LEN = len(spec.SEP)


def classify_expr(block: Column) -> Column:
    """SURVEY §2 op 13: context-free jusText labels — pure column exprs."""
    return (
        F.when(block["link_density"] > F.lit(spec.MAX_LINK_DENSITY), "bad")
        .when(block["text_len"] < F.lit(spec.LEN_SHORT), "short")
        .when(block["stopword_density"] >= F.lit(spec.STOP_GOOD), "good")
        .when(block["stopword_density"] >= F.lit(spec.STOP_NEAR), "near")
        .otherwise("bad")
    )


def explode_blocks(parsed: DataFrame) -> DataFrame:
    """Op 12: one row per DOM block; zero-block docs keep one null-block row
    (posexplode_outer) so assembly can reconstruct every input document."""
    return parsed.select(
        "url", "warc_ts", "lang", "part_id", "kind",
        F.posexplode_outer("blocks").alias("pos", "b"),
    )


def classify_exploded(rows: DataFrame) -> DataFrame:
    """Op 13 on exploded rows: context-free jusText label per block."""
    return rows.withColumn(
        "lab", F.when(F.col("b").isNull(), None).otherwise(classify_expr(F.col("b")))
    )


def smooth_exploded(rows: DataFrame) -> DataFrame:
    """Op 14: context pass via window functions (the lag/lead analog).

    A short/near block becomes content iff the nearest preceding OR nearest
    following edge-labelled (good/bad) block is good — same rule as the
    fused path's ``html_blocks.smooth_labels``. PDF payloads are all
    content.
    """
    doc = Window.partitionBy("url", "warc_ts")
    before = doc.orderBy("pos").rowsBetween(Window.unboundedPreceding, -1)
    after = doc.orderBy("pos").rowsBetween(1, Window.unboundedFollowing)
    edge = F.when(F.col("lab").isin(*_EDGE), F.col("lab"))
    prev_edge = F.last(edge, ignorenulls=True).over(before)
    next_edge = F.first(edge, ignorenulls=True).over(after)
    is_content = (
        F.when(F.col("b").isNull(), False)
        .when(F.col("kind") == "pdf", True)
        .when(F.col("lab") == "good", True)
        .when(F.col("lab") == "bad", False)
        .otherwise((prev_edge == "good") | (next_edge == "good"))
    )
    return rows.withColumn("is_content", is_content)


def span_offsets_exploded(rows: DataFrame) -> DataFrame:
    """Op 15: [start, end) offsets into the final text, running-sum frame."""
    before = (
        Window.partitionBy("url", "warc_ts")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = F.when(
        F.col("is_content"), F.col("b.text_len") + F.lit(_SEP_LEN)
    ).otherwise(F.lit(0))
    start = F.coalesce(F.sum(contrib).over(before), F.lit(0)).cast("long")
    return rows.withColumn("start", start).withColumn(
        "end", (start + F.col("b.text_len")).cast("long")
    )


def assemble_exploded(rows: DataFrame) -> DataFrame:
    """Op 17: per-document assembly — deterministic regardless of the
    partitioning feeding the groupBy (collect_list is order-sensitive, so
    everything collected is sort_array'd on block_id first)."""
    content_struct = F.when(
        F.col("is_content"),
        F.struct(
            F.col("b.block_id").alias("block_id"), F.col("b.text").alias("text")
        ),
    )
    span_struct = F.when(
        F.col("is_content"),
        F.struct(
            F.col("b.block_id").alias("block_id"),
            F.col("start").alias("start"),
            F.col("end").alias("end"),
            F.lit("content").alias("label"),
        ),
    )
    agg = rows.groupBy("url", "warc_ts").agg(
        F.first("lang").alias("lang"),
        F.first("part_id").alias("part_id"),
        F.sort_array(F.collect_list(content_struct)).alias("content"),
        F.sort_array(F.collect_list(span_struct)).alias("spans_raw"),
        F.count(F.col("b.block_id")).cast("int").alias("n_blocks"),
        F.count(F.when(F.col("is_content"), 1)).cast("int").alias(
            "n_content_blocks"
        ),
    )
    text = F.array_join(
        F.transform("content", lambda c: c["text"]), spec.SEP
    )
    return agg.select(
        "url",
        "warc_ts",
        "lang",
        text.alias("extracted_text"),
        F.expr(f"CAST(spans_raw AS {SPANS_DDL})").alias("spans"),
        F.sha2(F.coalesce(text, F.lit("")), 256).alias("text_sha256"),
        "n_blocks",
        "n_content_blocks",
        "part_id",
    )


def extract_pages_exploded(df: DataFrame, num_parts: int = 64) -> DataFrame:
    """Full pipeline in exploded form; byte-identical to
    ``extract.extract_pages`` (property-tested)."""
    df = with_part_id(df, num_parts)
    rows = explode_blocks(parse_pages(df, num_parts))
    return assemble_exploded(
        span_offsets_exploded(smooth_exploded(classify_exploded(rows)))
    )
