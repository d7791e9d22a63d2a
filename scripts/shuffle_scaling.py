"""SHUFFLE-path N-vs-4N scaling evidence (BENCH/SHUFFLE.md).

The extraction (BENCH/BASELINE.md) and WARC (BENCH/WARC.md) scaling
evidences are both map-only jobs — no exchange anywhere. This script
measures the OTHER half of the engine: the production-width MinHash
near-dup keeper pass (operators/corpus.near_keepers, 64 perms / 16 bands),
whose plan contains several real shuffles (band-key groupBy, rep join,
per-doc groupBy).

A multi-process disjoint-shard emulation (the map-only protocol) cannot
exercise a shuffle ACROSS executors, so this evidence uses the in-JVM
parallelism form the task brief allows: the SAME job over the SAME input
at local[2] vs local[8] (a 4x core ratio), each pinned (taskset) to a
disjoint-width cpuset. 2→8 keeps even the high side inside the host's
measured linear regime (the capacity calibration in BENCH/BASELINE.md
shows the box leaving linearity past ~8 busy cpus — the same reason the
extraction protocol uses 1-core executors).

Plan held constant: spark.sql.shuffle.partitions is FIXED at 64 on both
sides and AQE partition COALESCING is disabled — at this bench's data
volume coalescing would collapse the reduce stages to 1-2 partitions and
the ratio would measure AQE's small-data heuristic, not exchange scaling
(at production volumes the coalesced count exceeds the slot count anyway).
Everything else follows the established protocol: paired cycles
(both sides of each ratio from the same contention window), best + median
of cycles, per-phase steal-jiffy context, append-only history.

Usage: ``python scripts/shuffle_scaling.py [n_docs] [runs_per_size] [cycles]``
"""

from __future__ import annotations

import datetime as dt
import json
import pathlib
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from perfbench.hostinfo import steal_jiffies  # noqa: E402

LO_CORES, HI_CORES = 2, 8  # the "N" and "4N" sides
SHUFFLE_PARTS = 64


def _cmd(engine_zip: str, docs_dir: str, cores: int, runs: int) -> list[str]:
    return [
        "taskset", "-c", f"0-{cores - 1}",
        "spark-submit", "--master", f"local[{cores}]",
        "--driver-memory", "8g",
        "--conf", "spark.sql.adaptive.coalescePartitions.enabled=false",
        "--py-files", engine_zip,
        str(REPO / "scripts" / "shuffle_scaling_job.py"),
        docs_dir, str(cores), str(runs), str(SHUFFLE_PARTS),
    ]


def _parse(out: str) -> dict:
    return json.loads([ln for ln in out.splitlines() if ln.startswith("{")][-1])


def _run(engine_zip: str, docs_dir: str, cores: int, runs: int) -> dict:
    st0 = steal_jiffies()
    out = subprocess.run(
        _cmd(engine_zip, docs_dir, cores, runs),
        capture_output=True, text=True, check=True, cwd=str(REPO),
    ).stdout
    r = _parse(out)
    r["steal_jiffies"] = steal_jiffies() - st0
    return r


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    cycles = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    work = tempfile.mkdtemp(prefix="ocr-spark-shuffle-scaling-")
    engine_zip = f"{work}/engine.zip"
    docs_dir = f"{work}/docs"
    lo_best = hi_best = None
    cycle_effs: list[float] = []
    steal_log: list[dict] = []
    try:
        subprocess.run(
            ["zip", "-qr", engine_zip, "ocr_spark"], cwd=str(REPO), check=True
        )
        from ocr_spark.gen import bench_docs
        from ocr_spark.session import build_session

        spark = build_session(master="local[16]", app_name="shuffle-gen")
        bench_docs(spark, n_docs).repartition(SHUFFLE_PARTS).write.mode(
            "overwrite"
        ).parquet(docs_dir)
        spark.stop()

        for _ in range(cycles):
            lo = _run(engine_zip, docs_dir, LO_CORES, runs)
            hi = _run(engine_zip, docs_dir, HI_CORES, runs)
            assert lo["kept"] == hi["kept"], "parallelism changed the result"
            eff = round(
                (hi["docs_per_sec"] / lo["docs_per_sec"])
                / (HI_CORES // LO_CORES),
                3,
            )
            cycle_effs.append(eff)
            steal_log.append(
                {"lo": lo["steal_jiffies"], "hi": hi["steal_jiffies"]}
            )
            if eff >= max(cycle_effs):
                lo_best, hi_best = lo, hi
    finally:
        shutil.rmtree(work, ignore_errors=True)

    eff_best = max(cycle_effs)
    eff_median = round(statistics.median(cycle_effs), 3)
    result = {
        "ts": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
        "job": "near_keepers(64 perms, 16 bands)",
        "n_docs": n_docs,
        "runs_per_size": runs,
        "lo_cores": LO_CORES,
        "hi_cores": HI_CORES,
        "shuffle_partitions": SHUFFLE_PARTS,
        "lo": lo_best,
        "hi": hi_best,
        "steal_per_cycle": steal_log,
        "cycle_efficiencies": cycle_effs,
        "median_efficiency": eff_median,
        "scaling_efficiency": eff_best,
        "passes_0.8_gate": eff_best >= 0.8 and eff_median >= 0.8,
    }
    print(json.dumps(result))

    bench_dir = REPO / "BENCH"
    bench_dir.mkdir(exist_ok=True)
    with open(bench_dir / "history_shuffle.jsonl", "a") as hist:
        hist.write(json.dumps(result) + "\n")

    md = f"""# SHUFFLE — exchange-path N→4N scaling evidence

Measured {result['ts']} on the 32-core/125 GB sandbox.
Job: production-width MinHash near-dup keeper pass
(`operators/corpus.near_keepers`, 64 perms / 16 bands — band-key groupBy,
rep join, per-doc groupBy: several REAL exchanges) over {n_docs} deterministic
synthetic documents (`ocr_spark.gen.bench_docs`, ~3% exact + ~3% near dups).

Why this evidence exists: the extraction (BENCH/BASELINE.md) and WARC
(BENCH/WARC.md) scaling numbers are map-only jobs. The multi-process
disjoint-shard emulation cannot exercise a shuffle ACROSS executors, so
this uses the in-JVM parallelism form the task brief allows:
`taskset`-pinned `local[{LO_CORES}]` vs `local[{HI_CORES}]` (4× cores) over
the SAME input, `spark.sql.shuffle.partitions={SHUFFLE_PARTS}` fixed on both
sides, AQE partition coalescing disabled (at this data volume it collapses
the reduce stages to 1-2 partitions and would measure the small-data
heuristic, not exchange scaling). 2→8 keeps the high side inside the host's
measured linear regime (see the capacity calibration in BENCH/BASELINE.md).

| configuration | docs | wall (s) | docs/sec |
| --- | --- | --- | --- |
| local[{LO_CORES}] (cpus 0-{LO_CORES - 1}) | {lo_best['docs']} | {lo_best['sec']} | {lo_best['docs_per_sec']} |
| local[{HI_CORES}] (cpus 0-{HI_CORES - 1}) | {hi_best['docs']} | {hi_best['sec']} | {hi_best['docs_per_sec']} |

**scaling efficiency = {hi_best['docs_per_sec']} / (4 × {lo_best['docs_per_sec']}) = {eff_best}** (best paired cycle)

Per-cycle efficiencies: {cycle_effs} → **median {eff_median}**; per-cycle
steal jiffies (lo/hi phases): {steal_log}.

Gate ≥ 0.8 on best AND median → **{"PASS" if result['passes_0.8_gate'] else "FAIL"}**.
Both sides return identical kept counts ({lo_best['kept']}), asserted per
cycle — parallelism never changes the dedup decision.

Reproduce: `python scripts/shuffle_scaling.py {n_docs} {runs} {cycles}`
Append-only history: BENCH/history_shuffle.jsonl.
"""
    (bench_dir / "SHUFFLE.md").write_text(md)
    sys.exit(0 if result["passes_0.8_gate"] else 1)


if __name__ == "__main__":
    main()
