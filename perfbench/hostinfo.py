"""Host-side measurements read from ``/proc``: CPU time of the benchmark's
process tree, resident memory of the JVM and its Python workers, host CPU
steal, and the host description recorded with every result."""

from __future__ import annotations

import os
import platform
import resource

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` from ``state`` (field 3) on; the
    command name may hold spaces, so split after its closing paren."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    return data[data.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (children, grandchildren, ...)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out: list[int] = []
    todo = [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def running(pid: int) -> bool:
    """The process exists and has not exited (a zombie has exited)."""
    st = _stat_fields(pid)
    return st is not None and st[0] != "Z"


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process and its reaped children,
    plus every live descendant (the JVM and its Python workers) with the
    children each of them reaped."""
    total = 0.0
    for who in (resource.RUSAGE_SELF, resource.RUSAGE_CHILDREN):
        ru = resource.getrusage(who)
        total += ru.ru_utime + ru.ru_stime
    for pid in descendants(os.getpid()):
        st = _stat_fields(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17)
            total += sum(int(x) for x in st[11:15]) / _TICK
    return total


def _kb(path: str, key: str) -> int:
    """The kB value of the ``key`` line of a /proc status-style file; 0
    when the file is gone (a process that exited) or has no such line."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Resident-memory high-water marks, in MB, of the JVM and of every
    live process under it (the Python daemon and its workers, summed)."""
    workers = sum(
        _kb(f"/proc/{p}/status", "VmHWM:") for p in descendants(jvm_pid)
    )
    return _kb(f"/proc/{jvm_pid}/status", "VmHWM:") / 1024.0, workers / 1024.0


def steal_jiffies() -> int:
    """Host CPU-steal counter: field 8 of the ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def mem_total_mb() -> int:
    return _kb("/proc/meminfo", "MemTotal:") // 1024


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """Driver heap: an eighth of physical memory, clamped to 1-4 GiB. The
    same rule on every commit, so the heap never varies with the code."""
    return max(1024, min(4096, mem_total_mb() // 8))


def host_record() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "driver_heap_mb": driver_heap_mb(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "cpu": platform.processor() or platform.machine(),
    }
