"""Interval timing that takes hypervisor steal out of wall time.

On a shared virtual machine the hypervisor deschedules busy vCPUs; Linux
counts that time as ``steal`` in /proc/stat.  How much of it lands in a
timed interval depends on the neighbours, not on the program, and on the
machine this benchmark was sized on it swung between 1% and 35% of busy
time from one minute to the next.

``Interval.seconds`` is the wall time scaled by the share of busy vCPU time
that actually ran: wall × busy / (busy + steal), with busy = user + nice +
system + irq + softirq ticks, machine-wide.  It estimates the wall time the
same work would have taken with no steal.  It stays a wall-clock figure, so
parallelism still counts: work spread over more cores finishes sooner.
``Interval.wall`` keeps the raw wall time.
"""

from __future__ import annotations

import time


def _ticks() -> tuple[int, int]:
    """(busy, steal) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields
    return user + nice + system + irq + softirq, steal


class Interval:
    """``with Interval() as iv: ...`` then read ``iv.seconds`` / ``iv.wall``."""

    def __enter__(self):
        self._busy, self._steal = _ticks()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t0
        busy, steal = _ticks()
        busy -= self._busy
        steal -= self._steal
        self.run_share = busy / (busy + steal) if busy + steal else 1.0
        self.seconds = self.wall * self.run_share
        return False
