"""Spark + Arrow schemas for every table in the engine (SURVEY.md §1.2).

The ``pages`` input shape is mandated verbatim by BASELINE.json:15:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

# --- pages: the primary input table ---------------------------------------
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# --- extracted output table (SURVEY.md §1.2) -------------------------------
SPAN_STRUCT = T.StructType(
    [
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("label", T.StringType(), False),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("extracted_text", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT, containsNull=False), False),
        T.StructField("text_sha256", T.StringType(), False),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("n_content_blocks", T.IntegerType(), False),
        T.StructField("part_id", T.IntegerType(), False),
    ]
)

# --- lineage sidecar (SURVEY.md §1.2) --------------------------------------
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("input_rows", T.LongType(), False),
        T.StructField("output_rows", T.LongType(), False),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("started_ts", T.TimestampType(), False),
        T.StructField("finished_ts", T.TimestampType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("docs_per_sec", T.DoubleType(), False),
    ]
)


def _bbox_pa() -> pa.DataType:
    return pa.struct(
        [
            pa.field("x0", pa.float64()),
            pa.field("y0", pa.float64()),
            pa.field("x1", pa.float64()),
            pa.field("y1", pa.float64()),
        ]
    )


def block_pa_type() -> pa.DataType:
    """Arrow type of one parsed block (SPEC.md §2; the ``blocks`` element
    of ``operators.extract.PARSED_DDL``)."""
    return pa.struct(
        [
            pa.field("block_id", pa.int32(), nullable=False),
            pa.field("tag", pa.string(), nullable=False),
            pa.field("depth", pa.int32(), nullable=False),
            pa.field("text", pa.string(), nullable=False),
            pa.field("text_len", pa.int32(), nullable=False),
            pa.field("n_words", pa.int32(), nullable=False),
            pa.field("n_link_chars", pa.int32(), nullable=False),
            pa.field("link_density", pa.float64(), nullable=False),
            pa.field("char_density", pa.float64(), nullable=False),
            pa.field("stopword_density", pa.float64(), nullable=False),
            pa.field("bbox", _bbox_pa()),
        ]
    )
