"""Walls less the CPU time the hypervisor took from this machine.

On a shared virtual machine a neighbour's load shows as *steal* time in
``/proc/stat``: ticks in which a CPU of this machine was ready to run but
the host ran something else. ``Interval`` times a block and takes that share
out of its wall.
"""

from __future__ import annotations

import time


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs so far, from /proc/stat:
    time this machine's CPUs ran, and time they were ready to run but the
    hypervisor ran something else. (0, 0) where there is no /proc/stat."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            user, nice, system, _idle, _iowait, irq, softirq, steal = (
                int(x) for x in fh.readline().split()[1:9]
            )
    except (OSError, ValueError):
        return 0, 0
    return user + nice + system + irq + softirq, steal


class Interval:
    """Wall time of a block, and the share of its CPU time the hypervisor
    took from this machine (``stolen``). ``value`` is the wall less that
    share: the wall the block would have had with its CPUs to itself."""

    def __init__(self):
        self.wall = self.value = self.stolen = 0.0

    @classmethod
    def total(cls, parts) -> "Interval":
        """One interval made of consecutive ``parts``."""
        out = cls()
        out.wall = sum(p.wall for p in parts)
        out.value = sum(p.value for p in parts)
        out.stolen = 1.0 - out.value / out.wall if out.wall else 0.0
        return out

    def __enter__(self):
        self._ticks = cpu_ticks()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t0
        busy, stolen = (b - a for a, b in zip(self._ticks, cpu_ticks()))
        self.stolen = stolen / (busy + stolen) if busy + stolen else 0.0
        self.value = self.wall * (1.0 - self.stolen)
        return False
