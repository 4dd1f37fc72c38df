"""CPU time, peak memory and steal of this process tree, from ``/proc``.

The tree is this Python driver, the Spark JVM it launches and the
Python workers the JVM forks.  CPU counts ``utime + stime`` plus the
``cutime + cstime`` of reaped children, so workers that exit between
samples still count once their parent has waited for them.
"""

from __future__ import annotations

import os
from pathlib import Path

TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # the command name may hold spaces; fields after it are fixed
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` and every live descendant."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if entry.name.isdigit():
            st = _stat(int(entry.name))
            if st:
                children.setdefault(int(st[1]), []).append(int(entry.name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _is_py_worker(pid: int) -> bool:
    try:
        cmd = Path(f"/proc/{pid}/cmdline").read_bytes()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def cpu_seconds(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st:
            # fields 14-17 of stat(5), counted after the ")" split
            total += sum(int(x) for x in st[11:15])
    return total / TICK


def py_worker_pids(pids: list[int]) -> list[int]:
    return [p for p in pids if p != os.getpid() and _is_py_worker(p)]


class PeakRss:
    """Peak memory of the tree: the largest sum, over the processes alive
    at one sample, of each one's high-water RSS (``VmHWM``).  Summing
    only live processes keeps short-lived Python workers that the JVM
    replaces from being counted twice."""

    def __init__(self) -> None:
        self.peak_kb = 0

    def sample(self, pids: list[int]) -> None:
        total = 0
        for pid in pids:
            try:
                text = Path(f"/proc/{pid}/status").read_text()
            except OSError:
                continue
            for line in text.splitlines():
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
                    break
        self.peak_kb = max(self.peak_kb, total)

    def mb(self) -> float:
        return self.peak_kb / 1024.0


def host_cpu() -> tuple[int, int]:
    """(steal ticks, total ticks) over all CPUs since boot."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def process_age() -> float:
    """Seconds since this process started."""
    start = int(_stat(os.getpid())[19]) / TICK
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start
