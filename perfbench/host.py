"""Host readers: CPU busy time and steal from /proc/stat, peak RSS of this
process tree, and the machine facts every result records.

Everything here reads /proc only; nothing is sampled through Spark, so the
numbers are the same whichever layer of the job is running.
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _cpu_jiffies() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies summed over all CPUs of the host."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = v[:8]
    busy = user + nice + system + irq + softirq
    return busy, steal, busy + idle + iowait + steal


class CpuMeter:
    """Host-wide busy CPU seconds and steal share over a block.

    ``with CpuMeter() as m: ...`` then read ``m.busy_s``, ``m.wall_s`` and
    ``m.steal_pct``."""

    def __enter__(self) -> "CpuMeter":
        self._j0 = _cpu_jiffies()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        b0, s0, t0 = self._j0
        b1, s1, t1 = _cpu_jiffies()
        self.busy_s = (b1 - b0) / _CLK_TCK
        self.steal_pct = 100.0 * (s1 - s0) / max(t1 - t0, 1)


def _tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants (driver, JVM, Python
    workers)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue  # the process ended while we listed /proc
        pid = int(name)
        # the command name may hold spaces; the ppid follows its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * _PAGE
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak RSS of this process tree, polled on a daemon thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)

