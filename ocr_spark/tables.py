"""Table-format layer (SURVEY.md §0 sandbox note, §2 ops 1/4).

Locations are strings: ``snapshot:<dir>`` selects the homegrown snapshot
tables (ocr_spark.tables_snapshot: atomic commits, time travel, idempotent
per-batch overwrite); anything else is a partitioned-parquet directory,
committed per part by the JSON manifest of ocr_spark.operators.runner.

At the design point the pages table is partitioned by ``bucket(N, url)``;
part_id == the bucket transform, so the runner's per-batch part filter
prunes natively and the staging pass in runner.stage_input becomes
unnecessary (see its docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Homegrown snapshot tables (ocr_spark.tables_snapshot): the table-format
# semantics — atomic commits, time travel, idempotent per-batch overwrite.
# location = "snapshot:<dir>".
SNAPSHOT_PREFIX = "snapshot:"


def read_table(
    spark: SparkSession, location: str, schema=None
) -> DataFrame:
    """Op 1: load a table from a ``snapshot:`` location or a parquet
    path."""
    if location.startswith(SNAPSHOT_PREFIX):
        from ocr_spark import tables_snapshot

        return tables_snapshot.read(
            spark, location[len(SNAPSHOT_PREFIX):]
        )
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(location)


def write_table(
    df: DataFrame,
    location: str,
    mode: str = "append",
    partition_by: tuple[str, ...] | None = None,
) -> None:
    """Op 4: write to a ``snapshot:`` table or a parquet directory.

    Modes: ``append``; ``overwrite_partitions`` (parquet dynamic partition
    overwrite / snapshot-table overwrite_matching on the first partition
    column — the idempotent per-partition commit the runner relies on);
    ``create`` (full overwrite).
    """
    if location.startswith(SNAPSHOT_PREFIX):
        from ocr_spark import tables_snapshot as snap

        root = location[len(SNAPSHOT_PREFIX):]
        spark = df.sparkSession
        if mode == "create":
            snap.replace(spark, df, root)
        elif mode == "append":
            if snap.current_version(root) is None:
                snap.create(df, root)
            else:
                snap.append(df, root)
        elif mode == "overwrite_partitions":
            if not partition_by:
                raise ValueError(
                    "overwrite_partitions on a snapshot table needs"
                    " partition_by"
                )
            snap.overwrite_matching(spark, df, root, partition_by[0])
        else:
            raise ValueError(f"unknown mode {mode!r}")
        return
    if mode == "create":
        pw = df.write.mode("overwrite")
    elif mode in ("append", "overwrite_partitions"):
        # overwrite_partitions relies on the session's dynamic
        # partitionOverwriteMode, which the runner sets around its batches
        pw = df.write.mode("append" if mode == "append" else "overwrite")
    else:
        raise ValueError(f"unknown mode {mode!r}")
    if partition_by:
        pw = pw.partitionBy(*partition_by)
    pw.parquet(location)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int,
    sort_cols: tuple[str, ...] | None = None,
) -> None:
    """Materialize ``df`` as a BUCKETED table: rows hash-clustered into
    ``num_buckets`` files by ``bucket_cols`` (and sorted inside each bucket
    by ``sort_cols``), registered as ``table`` with data at ``path``.

    This is the co-located-join primitive: two tables bucketed on the same
    key with the same bucket count join WITHOUT any Exchange — each scan
    already reports hash partitioning on the key, so at 100 TB the join
    reads both sides bucket-by-bucket instead of shuffling them (the
    pay-once-at-write, join-free-forever trade for fact tables that are
    joined on the same key repeatedly — exactly the pages/extracted/golden
    url-key shape). ``sort_cols`` clusters rows inside each bucket file
    (scan locality / min-max pruning); note Spark does NOT use it to elide
    the SMJ's per-bucket Sort by default
    (spark.sql.legacy.bucketedTableScanOutputOrdering). Plan evidence:
    PLANS.md "bucketed co-located join"; regression-locked in
    tests/test_tables.py.

    A table format with partition transforms would get the same from a
    ``bucket(N, col)`` transform at CREATE time plus storage-partitioned
    joins; this helper covers the parquet/metastore path, which is also
    what `spark.table` resolves everywhere."""
    # repartition onto the bucket key first: one file per bucket instead
    # of tasks × buckets small files (file-count hygiene at scale). With
    # the default spark.sql.legacy.bucketedTableScanOutputOrdering=false
    # the scan never reports sorted output, so the SMJ's per-bucket Sort
    # stays regardless of file count (see docstring + the captured plan);
    # single-file buckets only elide it under the legacy ordering flag.
    w = (
        df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table by catalog name (`spark.read.parquet` on the
    path would LOSE the bucket metadata — only the catalog route lets the
    planner use the clustering)."""
    return spark.table(table)
