"""Process-tree resource accounting and the timing summaries.

The benchmark's process tree is this Python driver, the JVM it launches
and the JVM's Python workers. CPU time is read from ``/proc``: each live
process contributes its own time plus that of its children it has
already reaped (``cutime``/``cstime``), so workers that exit during the
run are still counted, once, through their reaping parent.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def tree(root: int | None = None) -> list[int]:
    """PIDs of ``root`` (default: this process) and all its descendants."""
    todo = [root or os.getpid()]
    seen: list[int] = []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_s() -> float:
    """CPU seconds (user+system, incl. reaped children) of the tree."""
    total = 0
    for pid in tree():
        f = _stat(pid)
        if f is not None:
            # fields 14-17 (utime stime cutime cstime), 0-based after ')'
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_mb() -> float:
    """Resident memory of the tree as proportional set size: a page
    shared by several processes (forked Python workers share most of
    theirs with the worker daemon) is split among them, not counted once
    per process."""
    total_kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


def process_start_epoch() -> float:
    """Wall-clock time this process was started (``time.time`` scale)."""
    f = _stat(os.getpid())
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh
                     if line.startswith("btime"))
    return btime + int(f[19]) / _TICK


def host_counters() -> dict:
    """Steal seconds (all CPUs) and CPU-pressure stall seconds."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    out = {"steal_s": int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0}
    try:
        with open("/proc/pressure/cpu") as fh:
            some = fh.readline().split()
        out["cpu_pressure_s"] = int(some[-1].split("=")[1]) / 1e6
    except (OSError, IndexError, ValueError):
        out["cpu_pressure_s"] = 0.0
    return out


class RssSampler:
    """Samples the tree's resident memory every ``period`` seconds on a
    daemon thread."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.samples: list[tuple[float, float]] = []  # (perf_counter, MB)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.perf_counter(), tree_rss_mb()))
            self._stop.wait(self.period)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def peak_mb(self) -> float:
        return max(mb for _, mb in self.samples)

    def median_mb(self, t0: float, t1: float) -> float:
        return median([mb for t, mb in self.samples if t0 <= t <= t1])


def tail(values: list[float], percentile: float = 90.0) -> dict:
    """The nearest-rank ``percentile`` of ``values``, with the rank and
    the sample count behind it (with five samples the p90 is the
    maximum)."""
    xs = sorted(values)
    rank = max(1, math.ceil(percentile / 100.0 * len(xs)))
    return {"value": xs[rank - 1], "percentile": percentile, "rank": rank,
            "samples": len(xs)}


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


def median(values: list[float]) -> float:
    return statistics.median(values)
