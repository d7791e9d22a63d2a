"""Tracing for the benchmark's traced run: spans recorded in the
benchmark's own code around each call into the program, and a reader for
Spark's event log (the only task-metrics source with the UI off).

Spans are kept in memory and written out once, when the run ends. The
event log is turned on through ``build_session(extra_conf=...)`` and only
in the traced phase, so end-to-end numbers never carry its cost.
"""

from __future__ import annotations

import json
import pathlib
import statistics
import time
from contextlib import contextmanager

# Spark local property tagging every job of a traced phase; the event
# log carries it on each StageSubmitted record.
PHASE_PROP = "perfbench.phase"


class Tracer:
    """Span recorder: (name, start, end, parent, run id) per span. A
    disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None
        ]

    def median(self, name: str) -> float:
        """Median duration of the spans called ``name``."""
        return statistics.median(self.durations(name))

    def write(self, path: pathlib.Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def event_log_conf(log_dir: pathlib.Path) -> dict[str, str]:
    """Session settings for a plain-JSON, single-file event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: pathlib.Path, phase: str, n_jobs: int) -> dict:
    """``spark.*`` per-layer metrics from the task-end records of every
    stage tagged ``phase``, per timed job (sums divided by ``n_jobs``).

    ``spark.task_skew`` is max/median task run time in the phase's longest
    stage (by wall time); its base, the median task run time of that
    stage, is reported next to it.
    """
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    stages: set[int] = set()
    wall: dict[int, float] = {}
    task_run: dict[int, list[int]] = {}
    run_ms = cpu_ns = gc_ms = 0
    sh_w = sh_r = spill = 0
    tasks = failed = 0
    with files[0].open() as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                if props.get(PHASE_PROP) == phase:
                    stages.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info["Stage ID"] in stages:
                    wall[info["Stage ID"]] = (
                        info.get("Completion Time", 0)
                        - info.get("Submission Time", 0)
                    )
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                tasks += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    failed += 1
                m = ev.get("Task Metrics") or {}
                run_ms += m.get("Executor Run Time", 0)
                cpu_ns += m.get("Executor CPU Time", 0)
                gc_ms += m.get("JVM GC Time", 0)
                spill += m.get("Disk Bytes Spilled", 0)
                sh_w += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                rd = m.get("Shuffle Read Metrics", {})
                sh_r += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                task_run.setdefault(ev["Stage ID"], []).append(
                    m.get("Executor Run Time", 0)
                )
    if not tasks:
        raise RuntimeError(f"no task records for phase {phase!r}")
    longest = max(task_run, key=lambda s: wall.get(s, 0))
    runs = task_run[longest]
    med = statistics.median(runs)
    mb = 1024.0 * 1024.0
    return {
        "spark.executor_run_s": run_ms / 1e3 / n_jobs,
        "spark.executor_cpu_s": cpu_ns / 1e9 / n_jobs,
        "spark.jvm_gc_s": gc_ms / 1e3 / n_jobs,
        "spark.shuffle_write_mb": sh_w / mb / n_jobs,
        "spark.shuffle_read_mb": sh_r / mb / n_jobs,
        "spark.spill_mb": spill / mb / n_jobs,
        "spark.tasks": tasks / n_jobs,
        "spark.failed_tasks": failed / n_jobs,
        "spark.task_skew": max(runs) / med if med > 0 else 1.0,
        "spark.skew_stage_median_task_ms": float(med),
    }
