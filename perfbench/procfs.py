"""Process-tree CPU and memory, read from ``/proc``.

The benchmark's own process is the Spark driver's Python side; the JVM
is its child, and the PySpark daemon and Python workers are the JVM's
children. CPU is summed over that whole tree, including the CPU of
children that already exited and were reaped (``cutime``/``cstime``),
so short-lived workers are not lost between two samples.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float, str] | None:
    """(ppid, cpu seconds incl. reaped children, comm) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14-17
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return ppid, ticks / _TICK, comm


def _tree() -> dict[int, tuple[int, float, str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int, tree: dict | None = None) -> list[int]:
    """``root`` and every live process below it."""
    tree = tree if tree is not None else _tree()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in tree.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in tree:
            out.append(pid)
            todo.extend(kids.get(pid, ()))
    return out


class CpuSample:
    """CPU seconds of this process's tree, split into the Python worker
    share (Python processes under the JVM) and the rest."""

    def __init__(self, jvm_pid: int) -> None:
        tree = _tree()
        self.total = sum(tree[p][1] for p in descendants(os.getpid(), tree))
        self.pyworkers = sum(
            tree[p][1]
            for p in descendants(jvm_pid, tree)
            if p != jvm_pid and tree[p][2].startswith("python")
        )

    def __sub__(self, start: CpuSample) -> tuple[float, float]:
        return self.total - start.total, self.pyworkers - start.pyworkers


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
