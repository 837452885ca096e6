"""Host context recorded next to every run. It is context only: no run
is ever dropped or corrected because of it."""

from __future__ import annotations

import os
import resource


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of the host's memory, at most 8 GiB: the program's own
    default (48 GiB) does not fit a small host."""
    return f"{min(mem_total_mb() // 4, 8192)}m"


def peak_rss_mb() -> float:
    """Peak resident set of this (the driver's Python) process."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted in user/nice
    return steal, sum(fields[:8])


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class HostWatch:
    """Steal share and load averages over the life of one run."""

    def __init__(self):
        self.steal0, self.total0 = _cpu_ticks()
        self.load0 = _loadavg()

    def report(self, cores: int, driver_mem: str) -> dict:
        steal, total = _cpu_ticks()
        dt = max(total - self.total0, 1)
        load = _loadavg()
        return {
            "nproc": nproc(),
            "cores_used": cores,
            "driver_memory": driver_mem,
            "steal_frac": round((steal - self.steal0) / dt, 4),
            "loadavg_start": self.load0,
            "loadavg_end": load,
            "loadavg1_delta": round(load[0] - self.load0[0], 2),
        }
