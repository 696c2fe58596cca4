"""Host readings: CPU steal and core count, which say how far a run's
timings can be trusted, and the CPU time and peak resident memory of
the driver's process tree."""

from __future__ import annotations

import os


def cpu_times() -> list[int]:
    """Aggregate /proc/stat CPU jiffies: user nice system idle iowait
    irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree() -> list[int]:
    """This process and every live descendant: the JVM that PySpark
    launched and its Python workers."""
    kids = _children()
    todo, out = [os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by the process tree."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Sum of the peak RSS (VmHWM) over the process tree."""
    return sum(_hwm_kb(pid) for pid in _tree()) / 1024.0
