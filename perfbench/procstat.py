"""CPU figures from ``/proc``: the run's own CPU time and the host's steal.

On a virtual machine the hypervisor can hold back a virtual CPU while a
task would run on it ("steal").  The guest kernel books those ticks as
steal, not as the task's CPU time, so a process tree's CPU seconds move
far less with the neighbours' load than its wall time does.
"""

from __future__ import annotations

import os

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat_fields(text: str) -> list[str]:
    """Fields of a ``/proc/<pid>/stat`` line after the command name,
    which may hold spaces and parentheses: state is the first."""
    return text[text.rindex(")") + 2 :].split()


def tree_cpu_s(root: int | None = None) -> float:
    """User plus system CPU seconds of ``root`` (default: this process)
    and every live descendant, including the children each has reaped."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = _stat_fields(f.read())
        except OSError:  # exited while we looked
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        # utime, stime, cutime, cstime
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total * TICK_S


def steal_s() -> float:
    """CPU seconds the hypervisor has withheld from this machine since
    boot, summed over its CPUs (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return parse_steal(f.readline())


def parse_steal(cpu_line: str) -> float:
    """Steal seconds from the aggregate ``cpu`` line of ``/proc/stat``."""
    fields = cpu_line.split()
    if fields[0] != "cpu":
        raise ValueError(f"not the aggregate cpu line: {cpu_line!r}")
    return int(fields[8]) * TICK_S

