"""Host and process counters read from ``/proc`` (Linux)."""
from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def process_start_monotonic() -> float:
    """This process's start time on the ``time.monotonic()`` clock.

    ``/proc/self/stat`` field 22 is the start time in clock ticks since
    boot, and CLOCK_MONOTONIC on Linux also counts from boot."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[19]) / _CLK_TCK


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])


class StealMeter:
    """Share of CPU time the hypervisor withheld between creation and read()."""

    def __init__(self):
        self._start = cpu_jiffies()

    def read(self) -> float:
        steal, total = cpu_jiffies()
        d_total = total - self._start[1]
        return (steal - self._start[0]) / d_total if d_total > 0 else 0.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def python_workers(root: int | None = None) -> list[int]:
    """PIDs of the PySpark Python daemon and workers descending from ``root``
    (default: this process, whose JVM child spawns them)."""
    kids = _children_map()
    stack, found = [root or os.getpid()], []
    while stack:
        pid = stack.pop()
        for child in kids.get(pid, ()):
            stack.append(child)
            try:
                with open(f"/proc/{child}/cmdline", "rb") as f:
                    cmd = f.read()
            except (FileNotFoundError, ProcessLookupError):
                continue
            if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                found.append(child)
    return found


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def workers_peak_rss_mb(pids: list[int]) -> float:
    """Summed ``VmHWM`` (peak resident set) of the given processes, in MB."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def workers_cpu_s(pids: list[int]) -> float:
    """User+system CPU seconds of the given processes, including reaped
    children (a worker that exited is folded into the daemon's cutime)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # fields[11..14] = utime stime cutime cstime
        total += sum(int(v) for v in fields[11:15])
    return total / _CLK_TCK
