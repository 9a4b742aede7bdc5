"""Box profile, process memory and summary statistics.

Nothing here imports Spark; the helpers read ``/proc`` directly so the
benchmark needs no package beyond what the engine already uses.
"""

from __future__ import annotations

import math
import os
import resource
import statistics

# percentiles the tail summary may report, highest first
_TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0)


def box_profile() -> dict:
    """nproc (the CPUs this process may run on) and total RAM."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 2),
    }


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    """Direct children of ``pid``, from each process's stat line."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command name may contain spaces; ppid follows ") state "
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        if ppid == pid:
            out.append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        for c in _children(p):
            seen.append(c)
            todo.append(c)
    return seen


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Sum of per-process peak resident sets (VmHWM) of this driver,
    the JVM and every process under the JVM (the Python workers).
    Peaks of different processes need not coincide, so the sum is an
    upper bound of the true combined peak."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid is not None:
        for pid in [jvm_pid, *descendants(jvm_pid)]:
            kb += _status_kb(pid, "VmHWM")
    return kb / 1024.0


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def summarize(values: list[float]) -> dict:
    """Median, plus the highest percentile with at least ten samples
    beyond it, plus the sample count."""
    n = len(values)
    out: dict = {"median": statistics.median(values), "n": n}
    for p in _TAIL_CANDIDATES:
        beyond = n - math.ceil(p / 100.0 * n)
        if beyond >= 10:
            out[f"p{p:g}"] = percentile(values, p)
            break
    return out
