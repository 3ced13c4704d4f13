"""Host record for one benchmark run: CPU steal share, load average and
peak RSS, so a disputed run can be explained instead of re-run blindly.

Everything is read from ``/proc``; on a host without it the readers
return ``None`` and the run record says so.
"""

from __future__ import annotations

import os
import resource
import time


def _cpu_times() -> list[int] | None:
    try:
        with open("/proc/stat") as f:
            first = f.readline().split()
    except OSError:
        return None
    # cpu user nice system idle iowait irq softirq steal guest guest_nice
    return [int(v) for v in first[1:9]]


def _loadavg() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return None


def _vm_hwm_mib(pid: int) -> float | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


def process_start_age_s() -> float:
    """Seconds since this process was started by the kernel (falls back
    to 0.0 where /proc is unavailable)."""
    try:
        with open("/proc/self/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        # field 22 (starttime, clock ticks since boot) is index 19 after
        # the comm field is split off
        start_ticks = int(fields[19])
        return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf(
            "SC_CLK_TCK"
        )
    except (OSError, ValueError, IndexError):
        return 0.0


class HostWindow:
    """CPU steal share and load average over one timed window."""

    def __init__(self) -> None:
        self._t0 = None
        self._load0 = None
        self.record: dict = {}

    def __enter__(self) -> "HostWindow":
        self._t0 = _cpu_times()
        self._load0 = _loadavg()
        return self

    def __exit__(self, *exc) -> None:
        t1 = _cpu_times()
        steal = None
        if self._t0 is not None and t1 is not None:
            delta = [b - a for a, b in zip(self._t0, t1)]
            total = sum(delta)
            steal = delta[7] / total if total > 0 else 0.0
        self.record = {
            "cpu_steal_share": steal,
            "loadavg_1m_start": self._load0,
            "loadavg_1m_end": _loadavg(),
            "ncpu": os.cpu_count(),
        }


def process_cpu_seconds(pid: int) -> float | None:
    """User + system CPU time of one process so far (threads included)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return None


def jvm_gc_seconds(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def peak_rss_mib(jvm_pid: int | None) -> dict:
    """Peak resident set of the driver JVM (VmHWM) and of this Python
    process (ru_maxrss), in MiB."""
    return {
        "jvm_peak_rss_mib": _vm_hwm_mib(jvm_pid) if jvm_pid else None,
        "python_peak_rss_mib": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }
