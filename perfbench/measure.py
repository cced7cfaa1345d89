"""Timing statistics, storage accounting and host/process probes."""

from __future__ import annotations

import math
import os
import resource
import time

TAIL_LADDER = tuple(float(p) for p in range(50, 100, 5)) + (99.0, 99.9)
TAIL_MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """ceil(p% of n), immune to float error such as 0.55 * 20 > 11."""
    return math.ceil(round(p * n / 100.0, 9))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    rank = max(1, _rank(p, len(xs)))
    return xs[rank - 1]


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) for the highest ladder percentile that leaves
    at least ten samples beyond it. Below 20 samples no percentile
    qualifies and the maximum is reported as percentile 100."""
    n = len(values)
    best = None
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            best = p
    if best is None:
        return 100.0, max(values)
    return best, percentile(values, best)


def tree_bytes(roots: list[str]) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``roots``; a file
    reachable through several hard links or roots counts once."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                st = os.lstat(os.path.join(dirpath, name))
                key = (st.st_dev, st.st_ino)
                if key in seen or not os.path.isfile(os.path.join(dirpath, name)):
                    continue
                seen.add(key)
                total += st.st_size
    return total, len(seen)


def files_bytes(paths: list[str]) -> int:
    """Bytes of the given files (``file:`` URIs allowed), hard links once."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for p in paths:
        st = os.stat(p.removeprefix("file://").removeprefix("file:"))
        if (st.st_dev, st.st_ino) not in seen:
            seen.add((st.st_dev, st.st_ino))
            total += st.st_size
    return total


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set of a process from /proc (kB), 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """Peak RSS (MB) of the driver JVM and of this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {"jvm": vm_hwm_kb(jvm_pid) / 1024.0, "python": py_kb / 1024.0}


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over CPUs (``steal`` in /proc/stat); 0 where unreadable."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def python_probe() -> float:
    """Seconds for a fixed single-core Python loop."""
    t0 = time.perf_counter()
    s = 0
    for i in range(3_000_000):
        s += i
    return time.perf_counter() - t0


def spark_probe(spark) -> float:
    """Seconds for a fixed parallel Spark aggregate (second of two runs)."""
    df = spark.range(200_000_000).selectExpr("sum(id * 2 + 1)")
    df.collect()
    t0 = time.perf_counter()
    df.collect()
    return time.perf_counter() - t0
