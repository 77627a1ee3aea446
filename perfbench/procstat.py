"""CPU time and resident memory of this process and all its
descendants (the Spark JVM and its Python workers), read from /proc.

CPU is utime + stime + cutime + cstime summed over the live tree, so a
worker that exits during a pass still counts through its parent's
child times. Memory is the sum of resident set sizes, sampled by a
background thread. A child that still shares its parent's address
space (the JVM's vfork child between fork and exec, when Hadoop spawns
``chmod``) counts once, not twice; Python workers, once they have
diverged from the daemon they forked from, count their copy-on-write
pages once per process.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
INTERVAL_S = 0.05  # memory sampling period


def _stat(pid: str) -> tuple[int, int, int, int] | None:
    """(ppid, cpu ticks incl. reaped children, vsize, rss pages)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # fields after the command name, from field 3 (state) on
    x = s[s.rindex(")") + 2 :].split()
    return int(x[1]), sum(int(v) for v in x[11:15]), int(x[20]), int(x[21])


def _tree(root: int) -> dict[int, tuple[int, int, int, int]]:
    """{pid: stat} for ``root`` and its descendants."""
    info = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                info[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, st in info.items():
        kids.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = info[pid]
            todo.extend(kids.get(pid, ()))
    return out


def tree_rss(tree: dict) -> int:
    """Resident bytes of a tree. A child whose virtual size is within 5%
    of its parent's still shares (or has just copied) the parent's
    address space, so its pages count with the parent's; the margin
    covers the parent mapping memory between the two reads."""
    total = 0
    for ppid, _, vsize, rss in tree.values():
        parent = tree.get(ppid)
        if parent is None or abs(parent[2] - vsize) > 0.05 * parent[2]:
            total += rss
    return total * _PAGE


class TreeMeter:
    """Measures one interval: ``start()``, work, ``stop()`` ->
    (cpu seconds, peak rss MB) of the process tree rooted here."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._peak = 0
        self._cpu0 = 0

    def _sample(self) -> int:
        """Update the peak; return the tree's cpu ticks."""
        tree = _tree(self.root)
        self._peak = max(self._peak, tree_rss(tree))
        return sum(st[1] for st in tree.values())

    def _loop(self) -> None:
        while not self._stop.wait(INTERVAL_S):
            self._sample()

    def start(self) -> None:
        self._peak = 0
        self._stop.clear()
        self._cpu0 = self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> tuple[float, float]:
        self._stop.set()
        self._thread.join(timeout=5)
        cpu = (self._sample() - self._cpu0) / _TICK
        return cpu, self._peak / 2**20
