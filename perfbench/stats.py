"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import os
import statistics
import time

MIN_BEYOND = 10

# Units that run inside this process and never wait on another process
# (planner calls, wire episodes over the in-process loopback server) are
# timed on the process's CPU clock.  On a virtual machine the hypervisor
# takes a CPU away for milliseconds at a time ("steal"); that reads as
# wall time, up to a third of a short call, but not as CPU time.
cpu_clock = time.process_time


def vm_mark() -> tuple[float, float, float]:
    """``(wall, busy, stolen)`` now: the wall clock, the CPU seconds this
    machine's CPUs have run and the seconds the hypervisor has withheld
    from them while they had work, both summed over CPUs (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    tick = os.sysconf("SC_CLK_TCK")
    return time.perf_counter(), (user + nice + system + irq + softirq) / tick, steal / tick


def unstolen_s(start: tuple, end: tuple) -> float:
    """Wall time from ``start`` to ``end`` (two ``vm_mark``s) less the share
    the hypervisor withheld: wall × (1 − stolen ÷ (busy + stolen)).

    A Spark query spreads over the JVM's threads and its Python workers,
    so no single CPU clock times it.  Steal, unlike a slower CPU, stops
    a runnable CPU outright; its share of the CPU time the machine asked
    for is the share of the query's critical path it delayed.  On a shared
    4-core virtual machine this halved the run-to-run spread of
    ``query_total_s``; where nothing is stolen it is the wall time."""
    wall = end[0] - start[0]
    busy, stolen = end[1] - start[1], end[2] - start[2]
    return wall * (1.0 - stolen / (busy + stolen)) if busy + stolen > 0 else wall


def percentile(values: list[float], p: float) -> tuple[float, float, int]:
    """``(value, percentile used, sample count)`` for the ``p``-th percentile.

    A percentile is only reported where at least ``MIN_BEYOND`` samples lie
    beyond it; with fewer samples the highest percentile that still has
    them is used instead, and the caller reports which one it was."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    used = max(0.0, min(p, 100.0 * (1.0 - MIN_BEYOND / n)))
    ordered = sorted(values)
    # nearest rank on the used percentile, never past the last sample
    rank = min(n - 1, max(0, math.ceil(used / 100.0 * n) - 1))
    return ordered[rank], round(used, 2), n


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(extra_pids: list[int] = ()) -> float:
    """Peak resident set of this process plus ``extra_pids`` (the JVM)."""
    kb = _hwm_kb(os.getpid()) + sum(_hwm_kb(p) for p in extra_pids)
    return kb / 1024.0

