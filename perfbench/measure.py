"""Aggregation helpers and host probes shared by every workload.

Everything here is plain stdlib so the benchmark's own tests can check it
without a JVM.
"""

from __future__ import annotations

import os
import statistics
import time


def median(values):
    """Median of a non-empty sequence (the mean of the middle pair for an
    even count)."""
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) the way ``statistics.quantiles(values, n=4)``
    gives them; a single value is its own quartiles."""
    if not values:
        raise ValueError("quartiles of no values")
    if len(values) == 1:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median: the steadiness
    figure a bound is checked against.  0 for a zero median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else 0.0


def summarize(values):
    """Median, quartiles, spread, max and sample count of one metric."""
    q1, q2, q3 = quartiles(values)
    return {
        "median": q2,
        "q1": q1,
        "q3": q3,
        "spread": spread(values),
        "max": max(values),
        "n": len(values),
    }


def rate(amount, seconds):
    """Work per second; raises on a zero or negative interval instead of
    reporting infinity."""
    if seconds <= 0:
        raise ValueError(f"rate over a non-positive interval {seconds!r}")
    return amount / seconds


# -- host probes -------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid):
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name sits in parentheses and may itself hold spaces
    return raw[raw.rindex(")") + 2:].split()


def process_tree_cpu_s():
    """User+system CPU seconds of this process and every live descendant
    — the Spark driver's Python, the JVM it launched and Spark's Python
    workers.  Children that already exited and were reaped count through
    their parent's cutime/cstime."""
    root_pid = os.getpid()
    parent_of = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            parent_of[int(name)] = int(_stat_fields(name)[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while we listed
    tree = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent_of.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    ticks = 0
    for pid in tree:
        try:
            f = _stat_fields(pid)
        except (OSError, IndexError):
            continue
        # utime, stime, cutime, cstime (fields 14-17 of proc(5))
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def cpu_ticks():
    """(busy, steal, total) CPU ticks of all CPUs from /proc/stat.  In a
    virtual machine, steal is time a virtual CPU was ready to run but the
    hypervisor gave the physical CPU to another guest: its share over a
    run says how contended the host was."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields[:8]
    return user + nice + system + irq + softirq, steal, sum(fields[:8])


def steal_share(before, after):
    """Stolen share of all CPU time between two ``cpu_ticks`` readings."""
    return (after[1] - before[1]) / max(after[2] - before[2], 1)


def steal_excluded(wall, before, after):
    """``wall`` seconds without the time the hypervisor stole from the
    virtual CPUs that wanted to run between two ``cpu_ticks`` readings:
    ``wall * busy / (busy + steal)``.

    A stolen tick is one a runnable virtual CPU did not get, so
    ``steal / (busy + steal)`` is the share of the CPU time the machine
    wanted that it was denied, and an operation's wall time stretches by
    about that share.  Measured on a 4-core VM: CDC files whose wall time
    went from 4.2 s to 9.6 s as steal rose from 1% to 25% of all CPU time
    read 3.9–5.0 s steal-excluded."""
    busy = after[0] - before[0]
    steal = after[1] - before[1]
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


class Mark:
    """A point in time: the wall clock and the CPU tick counters."""

    __slots__ = ("t", "ticks")

    def __init__(self):
        self.t = time.perf_counter()
        self.ticks = cpu_ticks()


def between(start, end):
    """(wall seconds, steal-excluded seconds) from one ``Mark`` to a
    later one."""
    wall = end.t - start.t
    return wall, steal_excluded(wall, start.ticks, end.ticks)
