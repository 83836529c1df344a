"""CPU time of the benchmark's process tree, read from ``/proc``.

The tree is this process, which runs the program's driver-side Python
(``foreachBatch`` bodies, transports), the JVM it launched, and the
JVM's Python workers.  A process's figure includes its reaped children,
so workers that exit between two readings still count once.  The kernel
leaves hypervisor steal out of a task's CPU time, so on a shared host
this figure moves with the work done, not with how long the work waited
for a core.
"""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def _read_procs() -> dict[int, tuple[int, int]]:
    """``pid -> (ppid, utime + stime + cutime + cstime in ticks)``."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # exited while listed
            continue
        # Fields after the command name, which may itself hold spaces.
        rest = stat[stat.rindex(b")") + 2 :].split()
        out[int(name)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User plus system CPU seconds of ``root`` (this process by
    default) and every live descendant."""
    procs = _read_procs()
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            total += procs[pid][1]
        todo.extend(children.get(pid, ()))
    return total / _TICKS
