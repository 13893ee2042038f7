"""CPU time of a process tree, read from ``/proc``.

A run's work happens in three kinds of process: the Python driver, the
JVM it launches, and the Python workers the JVM forks. All are
descendants of the driver, so the CPU a call costs is the growth of the
tree's user + system time across it. Time the hypervisor steals from the
guest is not charged to any process, so this figure moves much less than
wall time on a shared host.
"""

from __future__ import annotations

import os

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def parse_stat(text: str):
    """``(pid, ppid, cpu_s)`` from one ``/proc/<pid>/stat`` line; ``cpu_s``
    counts the process's user and system time plus that of its children
    it has reaped."""
    pid = int(text[: text.index(" ")])
    # the command name is in parentheses and may hold spaces or ')'
    fields = text[text.rindex(")") + 2:].split()
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return pid, int(fields[1]), (utime + stime + cutime + cstime) * TICK_S


def tree_cpu_s(root: int, stats=None) -> float:
    """CPU seconds used so far by ``root`` and its live descendants.
    ``stats`` (for tests) replaces the ``/proc`` scan with
    ``(pid, ppid, cpu_s)`` tuples."""
    if stats is None:
        stats = []
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        stats.append(parse_stat(f.read()))
                except (OSError, ValueError):  # exited while we looked
                    continue
    children: dict = {}
    cpu = {}
    for pid, ppid, c in stats:
        children.setdefault(ppid, []).append(pid)
        cpu[pid] = c
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo.extend(children.get(pid, ()))
    return total
