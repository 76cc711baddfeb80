"""How much of its CPU time the host gave this machine.

On a virtual machine the hypervisor can stop a vCPU that has work to
run and run another guest instead; the kernel counts that time as
``steal`` in /proc/stat. A timing taken while vCPUs were stolen from is
longer than the program's own time by the stolen share.
"""

from __future__ import annotations

import os

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def host_cpu() -> tuple[float, float]:
    """CPU seconds since boot, summed over vCPUs: (busy, stolen). Busy is
    user, nice, system, irq and softirq time. (0, 0) where the kernel does
    not report them."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0.0, 0.0
    if len(fields) < 8:
        return 0.0, 0.0
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields
    return (user + nice + system + irq + softirq) * _TICK_S, steal * _TICK_S


def host_share(before: tuple[float, float], after: tuple[float, float]) -> float:
    """Share of the vCPU time this machine had work for that the host ran,
    between two ``host_cpu()`` readings: busy / (busy + stolen); 1 when
    nothing was stolen."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return busy / (busy + stolen) if stolen > 0 else 1.0
