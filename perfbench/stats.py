"""Sample summaries and the host/process counters the benchmark reads."""

from __future__ import annotations

import math
import os
import statistics
from typing import Sequence

# candidate tail percentiles, lowest first. Capped at p99: beyond it, a
# sub-millisecond operation's tail is set by a few scheduler or GC pauses
# and no longer repeats from run to run on a shared host.
PERCENTILES = (90.0, 95.0, 99.0)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples (rounded
    first, so that 99.9 % of 10000 is rank 9990 despite binary floats)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def nearest_rank(sorted_vals: Sequence[float], p: float) -> float:
    """Nearest-rank percentile of an ascending sequence."""
    return sorted_vals[_rank(p, len(sorted_vals)) - 1]


def tail_percentile(values: Sequence[float], min_beyond: int = MIN_BEYOND,
                    candidates: Sequence[float] = PERCENTILES,
                    ) -> tuple[float, float]:
    """(p, value) for the highest percentile in ``candidates`` that leaves at
    least ``min_beyond`` samples above its nearest rank. With too few
    samples for any of them, (100.0, max)."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    n = len(s)
    best = None
    for p in candidates:
        if n - _rank(p, n) >= min_beyond:
            best = p
    if best is None:
        return 100.0, s[-1]
    return best, nearest_rank(s, best)


def tail_label(p: float) -> str:
    return "max" if p >= 100.0 else f"p{p:g}"


def summarize(values: Sequence[float],
              candidates: Sequence[float] = PERCENTILES) -> dict:
    """{n, p50, tail_p, tail} of a non-empty sample."""
    p, tail = tail_percentile(values, candidates=candidates)
    return {"n": len(values), "p50": statistics.median(values),
            "tail_p": p, "tail": tail}


def windowed_rate(ends: Sequence[float], span: float, windows: int = 8) -> float:
    """Operations per second as the median over ``windows`` equal windows of
    [0, span] (``ends`` are completion times from the start of the phase), so
    a short burst of host noise moves only the windows it falls in."""
    counts = [0] * windows
    for e in ends:
        counts[min(int(e / span * windows), windows - 1)] += 1
    return statistics.median(counts) * windows / span


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return [int(x) for x in fields[1:9]]


def steal_pct(before: Sequence[int], after: Sequence[int]) -> float:
    """Hypervisor steal as a share of all CPU time between two samples."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta)
    return 100.0 * delta[7] / total if total > 0 else 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmRSS missing from /proc/self/status")


def rchar() -> int:
    """Bytes this process has read through read-like syscalls."""
    with open("/proc/self/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    raise RuntimeError("rchar missing from /proc/self/io")


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, found through /proc."""
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in parents.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, all threads) used so far by this process
    and every descendant, reaped ones included: the benchmark process, and
    for Spark workloads its JVM and Python workers. On a paravirtualized
    host this excludes hypervisor steal."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited in between; its time is in its parent's
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total
