"""Repository benchmark: one workload per process, closed loop, one job at
a time on ``local[nproc]``.

Usage, from the repository root::

    python3 perfbench/run.py --workload extract_mixed --seed 1 \\
        --seconds 15 --trace 0

The run builds the session and does a first tiny extraction (``setup_s``),
generates the workload's seeded input, runs the workload's warm-up jobs,
then repeats the job for ``--seconds`` (a traced run splits them over
its untraced and traced windows). Every job's output
is checked against a reference outside its timed window. The last stdout line is the
result: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, see README.md). The line before it is a report with the
host, the sizes and every job's raw numbers.

All files go under ``.perfbench_work/`` in the repository; the spans of a
traced run are kept in ``.perfbench_work/traces/``.
"""

import time

_T0 = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pathlib  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = pathlib.Path(__file__).resolve().parents[1]
# import this directory as the ``perfbench`` package, never as top-level
# modules that could shadow the standard library
sys.path[0] = str(ROOT)
sys.path.insert(1, str(ROOT / "scripts"))

from perfbench import hostinfo  # noqa: E402
from perfbench.spans import (  # noqa: E402
    PHASE_PROP,
    Tracer,
    event_log_conf,
    read_event_log,
)
from perfbench.workloads import (  # noqa: E402
    WORKLOADS,
    html_blocks_layer,
    identity_batches,
    noop,
    persisted_rdds,
)

WORK_ROOT = ROOT / ".perfbench_work"
BENCHMARK_JSON = ROOT / "BENCHMARK.json"
# This host shares its CPUs. A job during which the host stole more than
# STEAL_LIMIT jiffies per wall second (0.2 of a CPU) measured the
# neighbours as much as the program: an untraced window runs it again, at
# most STEAL_RETRIES times a run, which outlasts the short steal bursts
# seen here. The stolen job stays in the report and in the output checks.
STEAL_LIMIT = 20.0
STEAL_RETRIES = 2


class Context:
    """What a workload needs: the session, its work dir, the seed, the core
    count and the span recorder."""

    def __init__(self, work: pathlib.Path, seed: int, tracer: Tracer):
        self.work = work
        self.seed = seed
        self.nproc = hostinfo.nproc()
        self.tracer = tracer
        self.spark = None


def _configure_env(work: pathlib.Path) -> None:
    """Keep every file the run writes (Spark scratch, JVM and Python temp
    files) inside ``work``, make the repository importable by the Python
    workers, and size the driver heap from the host."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(ROOT / "scripts")] + ([old] if old else [])
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{hostinfo.driver_heap_mb()}m"


def _build_session(ctx: Context, extra: dict[str, str] | None = None):
    from ocr_spark.session import build_session

    conf = {
        # the heap starts at its maximum: no resize decisions, so the
        # JVM's resident memory follows the pages the program touches
        "spark.driver.extraJavaOptions": f"-Xms{hostinfo.driver_heap_mb()}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(ctx.work / "warehouse"),
        **(extra or {}),
    }
    return build_session(
        master=f"local[{ctx.nproc}]",
        app_name="ocr-spark-perfbench",
        shuffle_partitions=ctx.nproc,
        extra_conf=conf,
    )


def _spawn_workers(ctx: Context) -> None:
    """One Arrow-UDF task per core: starts the Python workers."""
    noop(ctx.spark.range(ctx.nproc, numPartitions=ctx.nproc).mapInArrow(
        identity_batches, "id long"
    ))


def setup(ctx: Context) -> float:
    """Session, Python worker spawn, first tiny extraction; returns the
    seconds since this process started."""
    from ocr_spark.operators.extract import extract_pages
    from ocr_spark.schemas import PAGES_SCHEMA

    tr = ctx.tracer
    with tr.span("session.build"):
        ctx.spark = _build_session(ctx)
    spark = ctx.spark
    with tr.span("session.worker_spawn"):
        _spawn_workers(ctx)
    with tr.span("session.first_extract"):
        page = spark.createDataFrame(
            [("https://setup.example.com/", None,
              b"<p>the data of the page is in the table and it was</p>",
              None, "en")],
            PAGES_SCHEMA,
        )
        noop(extract_pages(page))
    return time.perf_counter() - _T0


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def run_job(ctx: Context, wl) -> dict:
    """One job: timed, CPU-accounted, then checked outside the window."""
    ok = persisted_rdds(ctx.spark) == wl.persisted
    steal0 = hostinfo.steal_jiffies()
    cpu0 = hostinfo.tree_cpu_s()
    t0 = time.perf_counter()
    handle = None
    try:
        with ctx.tracer.span("e2e.job"):
            handle = wl.run(ctx)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        ok = False
    wall = time.perf_counter() - t0
    cpu = hostinfo.tree_cpu_s() - cpu0
    steal = hostinfo.steal_jiffies() - steal0
    if handle is not None:
        try:
            ok = wl.check(ctx, handle) and ok
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
    jvm_mb, workers_mb = hostinfo.peak_rss_mb(_jvm_pid())
    return {
        "wall_s": wall,
        "cpu_s": cpu,
        "docs": wl.docs,
        "ok": ok,
        "steal_jiffies": steal,
        "rss_mb": jvm_mb + workers_mb,
        "jvm_rss_mb": jvm_mb,
        "workers_rss_mb": workers_mb,
    }


def _steal_rate(job: dict) -> float:
    return job["steal_jiffies"] / job["wall_s"]


def window(
    ctx: Context, wl, seconds: float, retries: int = 0
) -> tuple[list[dict], list[dict]]:
    """Closed loop: the next job starts when the previous one ended, as
    long as it can be expected to end (with its check) within ``seconds``
    of the window's start, judged by the median lap so far; at least one
    job. Returns the measured jobs and the ones run again because of steal
    (up to ``retries``)."""
    jobs: list[dict] = []
    stolen: list[dict] = []
    laps: list[float] = []
    start = time.perf_counter()
    while not jobs or (
        time.perf_counter() - start + statistics.median(laps) <= seconds
    ):
        lap0 = time.perf_counter()
        job = run_job(ctx, wl)
        laps.append(time.perf_counter() - lap0)
        if len(stolen) < retries and _steal_rate(job) > STEAL_LIMIT:
            stolen.append(job)
        else:
            jobs.append(job)
    return jobs, stolen


def _docs_per_s(jobs: list[dict]) -> float:
    return statistics.median(j["docs"] / j["wall_s"] for j in jobs)


def end_to_end(jobs: list[dict], setup_s: float) -> dict[str, float]:
    return {
        "docs_per_s": _docs_per_s(jobs),
        "cpu_us_per_doc": statistics.median(
            j["cpu_s"] / j["docs"] * 1e6 for j in jobs
        ),
        "setup_s": setup_s,
        "peak_rss_mb": max(j["rss_mb"] for j in jobs),
    }


def traced_phase(ctx: Context, wl, seconds: float, untraced: list[dict]):
    """Restart the session with the event log on, repeat the window with
    every job tagged, run the layer table, and return the per-layer
    metrics with the traced jobs."""
    log_dir = ctx.work / "eventlog"
    log_dir.mkdir()
    ctx.spark.stop()
    ctx.spark = _build_session(ctx, event_log_conf(log_dir))
    wl.reload(ctx)
    # the JVM stays warm across the restart; respawn the Python workers
    _spawn_workers(ctx)
    sc = ctx.spark.sparkContext
    sc.setLocalProperty(PHASE_PROP, "timed")
    jobs, _ = window(ctx, wl, seconds)
    sc.setLocalProperty(PHASE_PROP, "layers")
    metrics = wl.layers(ctx)
    sc.setLocalProperty(PHASE_PROP, None)
    metrics.update(html_blocks_layer(ctx.tracer, wl.sample(ctx)))
    ctx.spark.stop()  # closes the event log
    metrics.update(read_event_log(log_dir, "timed", len(jobs)))
    tr = ctx.tracer
    traced_dps = _docs_per_s(jobs)
    untraced_dps = _docs_per_s(untraced)
    metrics.update({
        "session.build_s": tr.median("session.build"),
        "session.worker_spawn_s": tr.median("session.worker_spawn"),
        "session.first_extract_s": tr.median("session.first_extract"),
        "host.steal_jiffies": float(sum(j["steal_jiffies"] for j in jobs)),
        "trace.docs_per_s": traced_dps,
        "trace.untraced_docs_per_s": untraced_dps,
        "trace.overhead_frac": 1.0 - traced_dps / untraced_dps,
    })
    return metrics, jobs


def shutdown() -> None:
    """Stop the session, end the JVM, and wait for it and every process
    that ran under this one (the Python daemon and workers) to exit."""
    from pyspark import SparkContext

    # the workers are re-parented once the JVM exits: list them first
    pids = hostinfo.descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    # give them 30 s to exit on their own, then kill and wait 10 s more
    start = time.perf_counter()
    killed = False
    while alive := [p for p in pids if hostinfo.running(p)]:
        waited = time.perf_counter() - start
        if waited > 40:
            raise RuntimeError(f"processes {alive} did not exit")
        if waited > 30 and not killed:
            for pid in alive:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.1)


def _metric_specs(trace: bool) -> list[dict]:
    spec = json.loads(BENCHMARK_JSON.read_text())
    return spec["per_layer" if trace else "end_to_end"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    specs = _metric_specs(bool(args.trace))
    import ocr_spark.operators.extract  # noqa: F401  fail before any JVM

    run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
    work = WORK_ROOT / run_id
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work)
    tracer = Tracer(run_id, bool(args.trace))
    ctx = Context(work, args.seed, tracer)
    wl = WORKLOADS[args.workload]()
    try:
        setup_s = setup(ctx)
        t = time.perf_counter()
        wl.prepare(ctx)
        prepare_s = time.perf_counter() - t
        warm = [run_job(ctx, wl) for _ in range(wl.warmups)]
        # a traced run measures two windows, untraced then traced, and
        # splits its time between them
        seconds = args.seconds / 2 if args.trace else args.seconds
        jobs, stolen = window(
            ctx, wl, seconds, 0 if args.trace else STEAL_RETRIES
        )
        traced: list[dict] = []
        if args.trace:
            layer_metrics, traced = traced_phase(ctx, wl, seconds, jobs)
    finally:
        shutdown()
    shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        tracer.write(WORK_ROOT / "traces" / f"{run_id}.json")

    oks = [j["ok"] for j in jobs + stolen + traced] + list(wl.layer_checks)
    failed = oks.count(False)
    if args.trace:
        values = {**layer_metrics, "failed_frac": failed / len(oks)}
    else:
        values = end_to_end(jobs, setup_s)
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in specs
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": hostinfo.host_record(),
        "docs_per_job": wl.docs,
        "setup_s": setup_s,
        "prepare_s": prepare_s,
        "warmups": warm,
        "jobs": jobs,
        "steal_retried_jobs": stolen,
        "traced_jobs": traced,
    }
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0 and all(w["ok"] for w in warm),
        "attempted": len(oks),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
