"""Run-condition readers: loadavg, core count and hypervisor steal.

``/proc/stat``'s cpu line is ``user nice system idle iowait irq softirq
steal guest guest_nice``. ``guest`` and ``guest_nice`` are already
counted inside ``user`` and ``nice``, so a denominator that sums every
field counts guest time twice. Only the first eight fields are summed.
"""

from __future__ import annotations

import os
import time


def parse_cpu_line(line: str) -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from the aggregate ``cpu`` line."""
    parts = line.split()
    if not parts or parts[0] != "cpu":
        raise ValueError(f"not an aggregate cpu line: {line!r}")
    vals = [int(v) for v in parts[1:]][:8]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def read_steal(path: str = "/proc/stat") -> tuple[int, int]:
    with open(path) as fh:
        return parse_cpu_line(fh.readline())


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of guest CPU time stolen between two ``read_steal`` samples."""
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total > 0 else 0.0


def core_count() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def cpu_seconds(pid: int | None) -> float:
    """CPU time of this process plus the process tree rooted at ``pid``
    (the JVM and the Python workers it forks). Each live process adds its
    own time and that of the children it has reaped."""
    total = time.process_time()
    ticks, stack = 0, [pid] if pid is not None else []
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/stat") as fh:
                ticks += sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[11:15])
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    stack.extend(int(c) for c in fh.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited while being read; its parent has its time now
    return total + ticks / os.sysconf("SC_CLK_TCK")
