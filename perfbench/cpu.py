"""CPU time of this process and every process it started.

The engine runs in a JVM this process launched, and Python workers the
JVM forks; their CPU time is read from ``/proc``. A process that exits
moves its time into its parent's children time when it is reaped, so the
sum over the live tree only grows.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[tuple[int, int]]]:
    """parent pid -> [(pid, clock ticks of user, system and reaped
    children's time)] for every process."""
    out: dict[int, list[tuple[int, int]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listed
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out.setdefault(int(fields[1]), []).append((int(name), ticks))
    return out


def tree_seconds() -> float:
    """CPU seconds used so far by this process and its descendants."""
    t = os.times()
    own = t.user + t.system + t.children_user + t.children_system
    children = _children()
    ticks, stack = 0, [os.getpid()]
    while stack:
        for pid, n in children.get(stack.pop(), ()):
            ticks += n
            stack.append(pid)
    return own + ticks / _TICK
