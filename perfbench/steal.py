"""Op times net of hypervisor steal.

On a shared virtual machine the hypervisor takes CPU time from the
guest ("steal"), and measured op times then swing with the neighbours'
load: on a 4-vCPU Xeon VM the same cron op took 16.4 s at 0.6 % steal
and 26.6 s at 28.5 %. The benchmark compares commits, not neighbours,
so its times are scaled by the share of the CPU time the machine asked
for that it actually got:

    net = wall x busy / (busy + steal)

over the measured interval, from the kernel's /proc/stat counters. With
no steal, net equals wall. When steal falls unevenly on the vCPUs, a
parallel stage waits for its slowest task and the correction falls
short, so net times still rise somewhat with steal.
"""

from __future__ import annotations


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over the machine's CPUs since
    boot, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time asked for between two ``cpu_ticks()``
    readings that the hypervisor took."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / (busy + steal) if busy + steal else 0.0


def net_of_steal(seconds: float, before: tuple[int, int], after: tuple[int, int]) -> float:
    return seconds * (1.0 - steal_share(before, after))
