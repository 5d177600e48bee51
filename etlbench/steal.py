"""Time the hypervisor withheld from this VM's CPUs.

On a shared host a VM's CPUs are runnable but not running for part of
the time (steal time in ``/proc/stat``). The share of runnable CPU time
that was stolen stretches every interval the benchmark times, by up to a
half on a busy host, so the benchmark reports each interval's wall time
times one minus that share: the wall time the interval would have taken
had the host withheld nothing. With no steal it is the wall time itself.
"""

from __future__ import annotations


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over all CPUs so far. Busy is
    user, nice, system, irq and softirq time; idle and iowait count as
    neither."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def stolen_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the runnable CPU time between two :func:`cpu_ticks`
    readings that was stolen."""
    busy, stolen = t1[0] - t0[0], t1[1] - t0[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0
