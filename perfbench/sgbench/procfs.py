"""Process-tree CPU time and peak RSS from ``/proc`` (``psutil`` is not
installed).

The tree is the benchmark process and every descendant: the Spark JVM it
launches and the JVM's Python daemon and workers. CPU counts
``utime+stime`` of live processes plus ``cutime+cstime``, which a parent
gains when it reaps a child, so workers that exit between two readings
are still counted. Peak RSS sums each live process's ``VmHWM``.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields[0] is state (stat field 3); utime..cstime are fields 14-17
    return sum(int(f) for f in fields[11:15])


def cpu_seconds(pids: list[int] | None = None) -> float:
    """Total CPU seconds of the process tree, reaped children included."""
    return sum(_cpu_ticks(p) for p in (pids or tree())) / _TICK


def peak_rss_mb(pids: list[int] | None = None) -> float:
    """Sum of per-process ``VmHWM`` over the live tree, in MB (2**20)."""
    total_kb = 0
    for pid in pids or tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
