"""SparkSession factory with the engine's standard configuration.

Tuned per SURVEY.md §4: AQE on (runtime shuffle re-planning), Arrow on with a
bounded batch size (html blobs are large — a smaller record cap keeps Arrow
IPC batches within executor memory at 100 TB scale), UTC session timezone so
timestamp semantics match the DuckDB oracle.

The master is an explicit ``master=``, else ``SPARK_GRAFT_MASTER``, else the
one spark-submit (or an already running context) supplied, else
``local[*]`` for a plain ``python`` run.

Python worker daemon: before every Python task PySpark 4.1 calls
``importlib.invalidate_caches()``, which on Python 3.11 makes each zip
importer on the worker's path re-read its zip directory, ~0.2 s of worker
CPU per task (see ``ocr_spark/_daemon.py``). ``daemon_conf`` swaps in
``ocr_spark._daemon``, which keeps those zip directories and leaves the
invalidation of plain directories alone. Keeping them is safe because the
zips on a worker's path are Spark's own and the job's ``--py-files``, none
of which changes while the worker runs. Spark starts the daemon before any
``--py-files`` reach the path, so the module is set only where the daemon
can import it: the master is ``local``/``local[...]`` (the daemon runs on
this host) and ``ocr_spark`` was imported from a plain directory, which is
then added to the workers' ``PYTHONPATH``. Everywhere else (a cluster, or a
``spark-submit --py-files engine.zip`` job) PySpark's default daemon runs;
setting the module there makes every Python task fail with ``No module
named 'ocr_spark'``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH = 1024  # records per Arrow batch crossing the JVM↔Python boundary
DAEMON_MODULE = "ocr_spark._daemon"
_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


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


def daemon_conf(
    master: str, package_dir: str, pythonpath: str | None
) -> dict[str, str]:
    """The conf that runs ``ocr_spark._daemon`` as the Python worker daemon,
    or ``{}`` where the daemon could not import it: a non-local ``master``,
    or a ``package_dir`` that is not a plain directory (a path inside a
    zip). ``pythonpath`` is the workers' ``PYTHONPATH`` already set; the
    directory holding the package is added to it."""
    local = master == "local" or master.startswith("local[")
    if not (local and os.path.isfile(os.path.join(package_dir, "_daemon.py"))):
        return {}
    root = os.path.dirname(os.path.abspath(package_dir))
    parts = [p for p in (pythonpath or "").split(os.pathsep) if p]
    if root not in parts:
        parts.append(root)
    return {
        "spark.python.daemon.module": DAEMON_MODULE,
        _PYTHONPATH: os.pathsep.join(parts),
    }


def _supplied_conf() -> dict[str, str]:
    """The conf of the running context, else the one spark-submit put in
    the JVM that launched this driver; ``{}`` for a plain ``python`` run,
    whose JVM the builder launches."""
    from pyspark import SparkConf, SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        return dict(sc.getConf().getAll())
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


def build_session(
    master: str | None = None,
    app_name: str = "ocr-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    supplied = _supplied_conf()
    master = (
        master or os.environ.get("SPARK_GRAFT_MASTER")
        or supplied.get("spark.master") or "local[*]"
    )
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
    extra = dict(extra_conf or {})
    extra.update(daemon_conf(
        master, os.path.dirname(__file__),
        extra.get(_PYTHONPATH, supplied.get(_PYTHONPATH)),
    ))
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
