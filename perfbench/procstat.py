"""Process-tree CPU time by role, read from ``/proc`` with the stdlib.

The benchmark's process tree is: this Python driver → the Spark JVM
(``java``) → PySpark's worker daemon and its forked Python workers, plus
the load generator, which the driver starts itself.  Each process is
given a role:

* ``driver`` — the benchmark's own Python process (py4j, callbacks);
* ``jvm`` — a ``java`` process;
* ``pyworker`` — any other process below a ``jvm`` process;
* a role given explicitly by pid (the load generator is ``gen``);
* anything else inherits its parent's role.

A role's CPU at an instant is the sum, over its live processes, of
``utime + stime + cutime + cstime``.  A process that exits and is
reaped moves its whole time into its parent's ``cutime``, so the
difference of two snapshots counts exactly the CPU spent between them,
including by processes that ended in between (as long as their parent
is in the tree and reaps them).
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
#: the roles that make up the engine's CPU (the load generator is not one)
ENGINE_ROLES = ("jvm", "pyworker", "driver")


def read_stat(pid: int, proc: str = "/proc") -> tuple[str, int, int] | None:
    """``(comm, ppid, cpu ticks incl. reaped children)`` of ``pid``, or
    None when it has gone."""
    try:
        with open(f"{proc}/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    comm = s[s.index("(") + 1 : s.rindex(")")]
    rest = s[s.rindex(")") + 2 :].split()
    ppid = int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    return comm, ppid, ticks


def process_table(proc: str = "/proc") -> dict[int, tuple[str, int, int]]:
    table = {}
    for name in os.listdir(proc):
        if name.isdigit():
            st = read_stat(int(name), proc)
            if st is not None:
                table[int(name)] = st
    return table


def roles(
    table: dict[int, tuple[str, int, int]], root: int, tagged: dict[int, str] | None = None
) -> dict[int, str]:
    """Role of every process in ``root``'s subtree (see module doc)."""
    tagged = tagged or {}
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out = {}
    stack = [(root, "driver")]
    while stack:
        pid, inherited = stack.pop()
        if pid not in table:
            continue
        comm = table[pid][0]
        if pid in tagged:
            role = tagged[pid]
        elif pid == root:
            role = "driver"
        elif comm == "java":
            role = "jvm"
        elif inherited in ("jvm", "pyworker"):
            role = "pyworker"
        else:
            role = inherited
        out[pid] = role
        stack.extend((c, role) for c in children.get(pid, ()))
    return out


def snapshot(
    root: int | None = None, tagged: dict[int, str] | None = None, proc: str = "/proc"
) -> dict[str, float]:
    """CPU seconds so far per role of ``root``'s process tree."""
    table = process_table(proc)
    out: dict[str, float] = {}
    for pid, role in roles(table, root or os.getpid(), tagged).items():
        out[role] = out.get(role, 0.0) + table[pid][2] / CLK_TCK
    return out


def delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    """CPU seconds per role spent between two snapshots."""
    keys = set(before) | set(after)
    return {k: after.get(k, 0.0) - before.get(k, 0.0) for k in sorted(keys)}


def engine_seconds(cpu: dict[str, float]) -> float:
    return sum(cpu.get(r, 0.0) for r in ENGINE_ROLES)


def role_metrics(cpu: dict[str, float]) -> dict[str, float]:
    """``cpu.<role>_s`` per-layer metrics."""
    return {f"cpu.{r}_s": cpu.get(r, 0.0) for r in ENGINE_ROLES}
