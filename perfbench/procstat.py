"""CPU readings of this process tree, from /proc.

The tree is this Python driver, the JVM it launched and the JVM's
Python workers. ``cpu_reading`` sums user+sys time over every live
member plus the time of children they have already reaped, so short-
lived Python workers are counted too.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # The command name may hold spaces; fields resume after its ')'.
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> dict[int, list[str]]:
    """/proc/<pid>/stat fields (from field 3 on) of ``root`` and all its
    descendants, by pid."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        stats[int(name)] = st
        children.setdefault(int(st[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    """Pids below ``root`` (not ``root`` itself)."""
    return [pid for pid in _tree(root) if pid != root]


# Thread names (``comm``) of the JVM's JIT compiler threads.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> dict[tuple[int, int], int]:
    """user+sys ticks of each JIT compiler thread of ``pid``."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        if name.startswith(JIT_THREADS):
            st = _stat(f"{pid}/task/{tid}")
            if st is not None:
                out[(pid, int(tid))] = int(st[11]) + int(st[12])
    return out


def cpu_reading(root: int) -> tuple[int, dict]:
    """(user+sys+cutime+cstime ticks over the tree, JIT thread ticks)."""
    tree = _tree(root)
    total = sum(sum(int(x) for x in st[11:15]) for st in tree.values())
    jit = {}
    for pid in tree:
        jit.update(_jit_ticks(pid))
    return total, jit


def cpu_between(a: tuple[int, dict], b: tuple[int, dict]) -> float:
    """CPU seconds the tree used between two readings, less the JIT
    compiler threads: their work is warm-up that drains over many
    passes, and it would otherwise dominate the per-pass figure."""
    jit = sum(t - a[1].get(k, 0) for k, t in b[1].items())
    return (b[0] - a[0] - jit) / _TICK
