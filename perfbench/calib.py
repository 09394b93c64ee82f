"""Host-speed calibration from the CPU time the hypervisor took from the VM.

On a shared virtual machine a vCPU that wants to run can be descheduled by
the host; Linux counts that time as `steal` in `/proc/stat`. Every timed
block (an op, a set-up phase) reads the counters at its start and end, and
its wall time is scaled by `1 - s`, where `s` is the stolen share of the
block's busy CPU time (user, nice, system, irq, softirq and steal). So a
time reads as the block would have taken had the host not taken the CPUs,
in seconds, and a run on a host that is busy with other tenants reads about
the same as one on a quiet host.

Two probes were tried first and dropped (DESIGN.md, "Calibration"): a fixed
pure-Python loop in a short-lived child process, and a fixed `spark.range`
job, both timed between passes. Neither followed the ops' speed from run to
run on a shared 4-vCPU host; the stolen share did.
"""

from __future__ import annotations

import time

# /proc/stat "cpu" fields: user nice system idle iowait irq softirq steal
_BUSY = (0, 1, 2, 5, 6)
_STEAL = 7


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def stolen_share(before: list[int], after: list[int]) -> float:
    """Stolen share of the busy CPU time between two `cpu_times()` reads."""
    d = [a - b for a, b in zip(after, before)]
    busy = sum(d[i] for i in _BUSY) + d[_STEAL]
    return d[_STEAL] / busy if busy else 0.0


class Stopwatch:
    """Wall time of a block and the stolen share of its busy CPU time."""

    def __init__(self):
        self.cpu0 = cpu_times()
        self.t0 = time.perf_counter()

    def stop(self) -> tuple[float, float]:
        """-> (wall seconds, stolen share)."""
        wall = time.perf_counter() - self.t0
        return wall, stolen_share(self.cpu0, cpu_times())
