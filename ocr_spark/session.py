"""SparkSession factory with the engine's standard configuration.

Tuned per SURVEY.md §4: AQE on (runtime shuffle re-planning), Arrow on with a
bounded batch size (html blobs are large — a smaller record cap keeps Arrow
IPC batches within executor memory at 100 TB scale), UTC session timezone so
timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH = 1024  # records per Arrow batch crossing the JVM↔Python boundary


def _driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else about 60% of the host's
    ``MemAvailable``: a heap sized past the host's memory lets the kernel
    kill the JVM before the collector ever runs."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    with open("/proc/meminfo") as f:
        kb = next(
            int(line.split()[1]) for line in f
            if line.startswith("MemAvailable:")
        )
    return f"{kb * 6 // 10 // 1024}m"


def build_session(
    master: str | None = None,
    app_name: str = "ocr-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # runtime split of skewed join partitions (salting still covers the
        # repartition+UDF path, which AQE skew handling does not)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # html-heavy pages tables: smaller input splits keep per-task memory
        # bounded when rows are multi-KB binary blobs
        .config("spark.sql.files.maxPartitionBytes", "64m")
        # zstd: ~30% smaller extracted-text parquet than snappy at similar
        # scan speed — at 100 TB the write+storage saving dominates
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _driver_mem())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
