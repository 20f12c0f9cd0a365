"""CPU time and peak resident memory of a process tree, read from ``/proc``.

A PySpark run is three kinds of process: the calling Python process, the
JVM it launches, and the Python workers the JVM forks. ``cpu_seconds`` and
``peak_rss_mb`` cover all of them by walking the parent links from a root pid.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return data[data.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def running(pids: list[int]) -> list[int]:
    """The pids that still run (ended and zombie processes left out)."""
    out = []
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None and fields[0] not in ("Z", "X"):
            out.append(pid)
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree so far. A reaped child's time has moved
    into its parent's ``cutime``/``cstime``, so summing own and children's
    time over the live processes counts every process exactly once."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _CLK_TCK


def peak_rss_mb(root: int) -> float:
    """Sum of ``VmHWM`` (peak resident set) over the live tree, in MB."""
    kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
