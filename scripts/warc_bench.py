"""Archive-ingest throughput + scaling evidence → BENCH/WARC.md.

Measures the WARC read path (binaryFile scan → sources/warc.parse_warc →
pages projection, materialized with the noop sink) under the SAME pinned
N-vs-4N executor protocol as the extraction evidence
(scripts/bench_scaling.py): an executor = one 1-core `spark-submit`
process inside a `taskset` cpuset; the 4N phase runs four such processes
CONCURRENTLY over disjoint file shards of the same archive. The parse has
no shuffle and no cross-file state, so cluster rate = sum of executor
rates and efficiency = rate(4)/(4·rate(1)).

An earlier cut compared unpinned local[8] vs local[32] sessions on the
shared-host VM and measured "0.21 efficiency" — that number was the host's
steal + oversubscription, not the job (the same artifact the extraction
bench hit in round 3, fixed the same way: pinned processes, few busy cpus,
best-of-cycles on both sides).

Usage: python scripts/warc_bench.py [n_pages] [n_files] [cycles]
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys
import tempfile
import time

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from perfbench.hostinfo import steal_jiffies  # noqa: E402

EXEC_CORES = 1
N_EXECS = 4


def _cmd(engine_zip: str, archive: str, cpu_lo: int, runs: int,
         residue: int | None) -> list[str]:
    cpus = f"{cpu_lo}-{cpu_lo + EXEC_CORES - 1}"
    cmd = [
        "taskset", "-c", cpus,
        "spark-submit", "--master", f"local[{EXEC_CORES}]",
        "--driver-memory", "6g",
        "--py-files", engine_zip,
        str(REPO / "scripts" / "warc_scaling_job.py"),
        archive, str(EXEC_CORES), str(runs),
    ]
    if residue is not None:
        cmd += [str(residue), str(N_EXECS)]
    return cmd


def _parse(out: str) -> dict:
    return json.loads([ln for ln in out.splitlines() if ln.startswith("{")][-1])


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    cycles = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    runs = 2

    work = tempfile.mkdtemp(prefix="warc-bench-")
    engine_zip = f"{work}/engine.zip"
    subprocess.run(["zip", "-qr", engine_zip, "ocr_spark"], cwd=str(REPO),
                   check=True)

    from pyspark.sql import functions as F

    from ocr_spark.gen import web_pages
    from ocr_spark.session import build_session
    from ocr_spark.sources import warc

    archive = f"{work}/archive"
    gen_spark = build_session(master="local[32]", app_name="warc-bench-gen",
                              shuffle_partitions=32)
    pages = web_pages(gen_spark, n_pages).select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
        .alias("warc_date"),
        "html",
    )
    warc.write_warc(pages, archive, num_files=n_files, gzip_members=True)
    gen_spark.stop()

    best_single = None
    best_cluster = None
    cycle_rows = []
    for c in range(cycles):
        st0 = steal_jiffies()
        s = _parse(subprocess.run(
            _cmd(engine_zip, archive, 0, runs, None),
            capture_output=True, text=True, check=True, cwd=str(REPO),
        ).stdout)
        s["steal"] = steal_jiffies() - st0

        st0 = steal_jiffies()
        procs = [
            subprocess.Popen(
                _cmd(engine_zip, archive, r * EXEC_CORES, runs, r),
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True, cwd=str(REPO),
            )
            for r in range(N_EXECS)
        ]
        shards = [_parse(p.communicate()[0]) for p in procs]
        steal4 = steal_jiffies() - st0
        rate4 = sum(sh["rate"] for sh in shards)
        eff = rate4 / (N_EXECS * s["rate"])
        cycle_rows.append({
            "cycle": c, "rate1": s["rate"], "steal1": s["steal"],
            "rate4": round(rate4, 1), "steal4": steal4,
            "eff": round(eff, 3),
        })
        if best_single is None or s["rate"] > best_single["rate"]:
            best_single = s
        if best_cluster is None or rate4 > best_cluster["rate4"]:
            best_cluster = {"rate4": rate4, "shards": shards,
                            "steal": steal4}

    best_eff = best_cluster["rate4"] / (N_EXECS * best_single["rate"])
    effs = sorted(r["eff"] for r in cycle_rows)
    median_eff = effs[len(effs) // 2]
    report = {
        "n_pages": n_pages, "n_files": n_files, "cycles": cycles,
        "exec_cores": EXEC_CORES,
        "rate_1exec_best": best_single["rate"],
        "rate_4exec_best": round(best_cluster["rate4"], 1),
        "scaling_efficiency_best": round(best_eff, 3),
        "scaling_efficiency_median": median_eff,
        "cycles_detail": cycle_rows,
    }
    print(json.dumps(report))

    md = REPO / "BENCH" / "WARC.md"
    lines = [
        "# WARC — archive-ingest throughput and N→4N scaling (read path)",
        "",
        f"{n_pages} pages as {n_files} deterministic `.warc.gz` files (one "
        "gzip member per record, gen.web_pages corpus). Read path = "
        "binaryFile scan → sources/warc.parse_warc → pages projection, "
        "noop-materialized. Protocol = the extraction evidence's pinned "
        f"emulation (BENCH/BASELINE.md): an executor is one {EXEC_CORES}"
        "-core taskset'd spark-submit process; the 4-executor phase runs "
        "four concurrently over disjoint file shards; best-of-"
        f"{cycles}-cycles on both sides (least-stolen window); "
        "cluster rate = Σ executor rates (no shuffle, no cross-file "
        "state).",
        "",
        "| cycle | 1-exec pages/s (steal) | 4-exec Σ pages/s (steal) | eff |",
        "| --- | --- | --- | --- |",
    ]
    for r in cycle_rows:
        lines.append(
            f"| {r['cycle']} | {r['rate1']} ({r['steal1']}) | "
            f"{r['rate4']} ({r['steal4']}) | {r['eff']} |"
        )
    lines += [
        "",
        f"Best 1-exec rate **{best_single['rate']} pages/s**; best 4-exec "
        f"rate **{report['rate_4exec_best']} pages/s**; efficiency "
        f"best-vs-best **{report['scaling_efficiency_best']}**, median "
        f"per-cycle **{median_eff}**.",
        "",
        "The parse is embarrassingly parallel by construction — whole "
        "archive files are the task unit, no exchange anywhere — so at "
        "crawl scale (thousands of ~1 GiB segment files per dump) the "
        "file listing saturates any executor count; the numbers above "
        "measure the per-core gzip+split cost, not a coordination "
        "ceiling. An earlier unpinned local[8]-vs-local[32] comparison "
        "measured 0.21 'efficiency' — host steal/oversubscription, not "
        "the job; superseded by this pinned protocol (same fix as the "
        "round-3 extraction bench).",
        "",
        "Reproduce: `python scripts/warc_bench.py "
        f"{n_pages} {n_files} {cycles}`",
        "",
    ]
    md.write_text("\n".join(lines))
    print("wrote", md)


if __name__ == "__main__":
    main()
