"""Wall time net of CPU steal, read from /proc/stat.

On a virtual machine the hypervisor hands part of each vCPU's time to other
tenants; /proc/stat counts it as "steal". A job that keeps the vCPUs busy
waits that long longer, and on a shared host the stolen share drifts by
several points from one minute to the next. The benchmark's times are wall
times with the stolen share taken out: wall x (1 - steal / busy time) over
the timed interval, where busy time is all CPU time but idle and iowait
(a halted vCPU is not runnable, so it is never stolen from; dividing by
all CPU time would understate what a job's busy vCPUs lost). On a machine
without a hypervisor steal is 0 and the two are equal.
"""

from __future__ import annotations

import time


def _jiffies() -> tuple[int, int]:
    """(busy CPU time, stolen CPU time) since boot, summed over CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    # user nice system idle iowait irq softirq steal; guest time is
    # already counted in user
    return sum(v) - v[3] - v[4], v[7]


class Stopwatch:
    """Times an interval; ``wall`` is its wall time, ``steal`` the stolen
    share of busy CPU time in it and ``net`` the wall time net of that
    share."""

    def __enter__(self) -> "Stopwatch":
        self._t0, self._j0 = time.perf_counter(), _jiffies()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        (busy, stolen), (busy0, stolen0) = _jiffies(), self._j0
        self.steal = (stolen - stolen0) / (busy - busy0) \
            if busy > busy0 else 0.0
        self.net = self.wall * (1.0 - self.steal)
