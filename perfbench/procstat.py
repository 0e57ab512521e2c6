"""CPU seconds of this process tree, its live descendants and the host's
steal time, read from ``/proc``.

The tree is the benchmark's Python driver, the JVM it launched and the
JVM's descendants: the PySpark daemon and its Python workers. A process's
``cutime``/``cstime`` already hold the CPU of the children it reaped, so a
live process is counted with both and a reaped one is never counted twice.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, command name, CPU seconds incl. reaped children) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state; utime, stime, cutime, cstime are fields 14-17 of
    # stat(5), i.e. indices 11-14 here.
    ticks = sum(int(v) for v in fields[11:15])
    return int(fields[1]), comm, ticks / _TICK


def _processes() -> dict[int, tuple[int, str, float]]:
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                procs[int(entry)] = st
    return procs


def _children(procs) -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    return children


def tree_cpu(root: int) -> dict[str, float]:
    """CPU seconds of ``root`` and its live descendants, split into the
    driver (``root`` itself), Python workers (Python processes below the
    JVM) and the JVM with everything else below ``root``."""
    procs = _processes()
    children = _children(procs)
    out = {"driver": procs.get(root, (0, "", 0.0))[2], "jvm": 0.0, "pyworker": 0.0}
    stack = [(pid, False) for pid in children.get(root, [])]
    while stack:
        pid, under_jvm = stack.pop()
        _, comm, cpu = procs[pid]
        is_python = comm.startswith("python")
        out["pyworker" if under_jvm and is_python else "jvm"] += cpu
        below = under_jvm or comm == "java"
        stack.extend((c, below) for c in children.get(pid, []))
    return out


def descendants(root: int) -> list[int]:
    """Live descendants of ``root``."""
    children = _children(_processes())
    out, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def steal_s() -> float:
    """CPU seconds this machine's virtual CPUs have waited for the host
    since boot (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK
