"""Text-format source/sink connectors: JSONL, CSV, ORC.

A corpus engine's edges are rarely parquet-only: training exports ship as
sharded ``.jsonl.gz``, crawl operations exchange CSV (seed lists, label
sheets, URL audits), and warehouse neighbors hand over ORC. These wrappers
pin the production disciplines the raw ``spark.read``/``df.write`` calls
leave optional:

- **Schema-mandatory reads.** ``inferSchema``/sampled JSON inference is a
  FULL extra pass over the data (at 100 TB: a second 100 TB scan before the
  first real job) and can mis-type columns batch-to-batch. Every reader
  here requires an explicit schema; there is no inference path.
- **Shard-count control on writes.** Export file count is a contract with
  the downstream loader (one task per shard), not an accident of upstream
  parallelism: ``num_shards`` repartitions right before the write.
- **Lossless round trips.** CSV is written quoted+escaped and read back in
  ``multiLine`` mode so embedded newlines/quotes/commas survive; JSON and
  CSV timestamp serialization round-trips instants under the engine-pinned
  UTC session. The `scan_*_roundtrip` registry entries put all of this
  under the driver's value hash (ocr_spark/queries_formats.py).

Scale shape: reads parallelize by file (gzip is not splittable — shard
size, set by the writer's ``num_shards``, IS the read parallelism for
``.gz`` exports; keep shards ~256 MB-1 GB at corpus scale). Writes are one
narrow repartition + task-local serialization, no driver involvement.
"""
from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Pinned CSV dialect: RFC-4180-style quoting with quote-doubling disabled
# in favor of backslash escapes is a portability trap — we keep Spark's
# default quote char and set escape='"' (quote doubling), the dialect
# DuckDB/pandas/Excel all parse.
_CSV_OPTS = {
    "header": "true",
    "quote": '"',
    "escape": '"',
    "multiLine": "true",  # read side: quoted fields may span lines
}


def write_jsonl(
    df: DataFrame,
    path: str,
    num_shards: int | None = None,
    compression: str | None = "gzip",
) -> None:
    """Write ``df`` as JSON-lines shards (one object per row — the
    training-export interchange format). ``compression='gzip'`` yields
    ``part-*.json.gz`` members; pass ``None`` for plain text."""
    if num_shards is not None:
        df = df.repartition(num_shards)
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Read JSON-lines with an EXPLICIT schema (no inference pass).

    Malformed lines surface as all-null rows under the default PERMISSIVE
    mode; exports produced by :func:`write_jsonl` round-trip losslessly."""
    return spark.read.schema(schema).json(path)


def write_csv(
    df: DataFrame,
    path: str,
    num_shards: int | None = None,
    compression: str | None = None,
) -> None:
    """Write ``df`` as headered, quoted CSV shards. Embedded newlines,
    quotes and separators in string columns survive (quoted fields,
    quote-doubling escape — the dialect in ``_CSV_OPTS``)."""
    if num_shards is not None:
        df = df.repartition(num_shards)
    w = df.write.mode("overwrite")
    for k, v in _CSV_OPTS.items():
        if k != "multiLine":  # write side has no multiLine option
            w = w.option(k, v)
    if compression:
        w = w.option("compression", compression)
    w.csv(path)


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Read CSV with an EXPLICIT schema and the pinned dialect.

    ``multiLine=true`` so quoted fields spanning physical lines parse as
    one record (costs file-at-a-time parsing for the affected files — the
    price of newline-bearing text columns; exports that guarantee
    newline-free fields can read without it and split by line)."""
    r = spark.read.schema(schema)
    for k, v in _CSV_OPTS.items():
        r = r.option(k, v)
    return r.csv(path)


def write_orc(df: DataFrame, path: str, num_shards: int | None = None) -> None:
    """Write ``df`` as ORC (the columnar interchange with Hive-lineage
    warehouses; nested types, predicate pushdown and column pruning all
    work as with parquet)."""
    if num_shards is not None:
        df = df.repartition(num_shards)
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Read ORC. Columnar self-describing format — the schema travels with
    the files, so no explicit schema is required (unlike the text formats,
    where schema-on-read is an inference scan we refuse to pay)."""
    return spark.read.orc(path)


def write_xml(
    df: DataFrame,
    path: str,
    num_shards: int | None = None,
    row_tag: str = "doc",
) -> None:
    """Write ``df`` as XML shards (Spark 4's built-in xml source — the
    interchange format of feed/sitemap/library ecosystems). The writer
    entity-escapes ``<``/``&`` in text nodes, omits null fields, and
    nests struct fields / repeats array elements under their column
    tag."""
    if num_shards is not None:
        df = df.repartition(num_shards)
    df.write.mode("overwrite").format("xml").option("rowTag", row_tag).save(
        path
    )


def read_xml(
    spark: SparkSession, path: str, schema: StructType, row_tag: str = "doc"
) -> DataFrame:
    """Read XML with an EXPLICIT schema (inference over XML is even
    costlier than JSON — a full parse pass just to guess types). Omitted
    elements surface as nulls; repeated elements gather into arrays.
    Reader default ``ignoreSurroundingSpaces=true`` trims value-edge
    whitespace — values that must carry leading/trailing whitespace are
    a known lossy edge of the format, keep them in JSONL/parquet."""
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .schema(schema)
        .load(path)
    )


# The ``format("avro")`` short name needs the separate spark-avro module's
# META-INF DataSourceRegister entry. Spark ships the avro classes INSIDE
# spark-sql_2.13-4.1.2.jar but not that registration, so the full class
# name is the working spelling (probed 2026-08-21: short name →
# AnalysisException "external data source module since Spark 2.4"; full
# name → clean write/read round-trip). It also works where the module is
# registered, so it is the only spelling used.
AVRO_FORMAT_FULL = "org.apache.spark.sql.avro.AvroFileFormat"


def avro_available(spark: SparkSession) -> bool:
    """True iff Avro IO is usable in this JVM.

    The r04 VERDICT queued a one-time probe: /opt/spark/jars has the
    avro-1.12.1 CORE jars and — it turns out — the spark-sql jar bundles
    the org.apache.spark.sql.avro classes too, so Avro works via the
    full-classname format spelling even without the spark-avro connector
    module."""
    try:
        spark._jvm.java.lang.Class.forName(AVRO_FORMAT_FULL)
        return True
    except Py4JJavaError:  # ClassNotFoundException
        return False


def write_avro(df: DataFrame, path: str, num_shards: int | None = None) -> None:
    """Write ``df`` as Avro (the row-oriented schema-evolution interchange
    of Kafka/streaming ecosystems), through the bundled full class name."""
    if num_shards is not None:
        df = df.repartition(num_shards)
    df.write.mode("overwrite").format(AVRO_FORMAT_FULL).save(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Read Avro. Self-describing (writer schema embedded per file), so no
    explicit schema is required; pass avroSchema via .option upstream for
    reader-schema evolution."""
    return spark.read.format(AVRO_FORMAT_FULL).load(path)
