"""CPU time and resident memory of a whole process tree, read from /proc.

The benchmark's process tree is the Python driver, the Spark JVM it
launches and the JVM's Python workers. CPU is utime + stime of every live
member plus cutime + cstime, which holds the CPU of children a member has
already reaped; the difference between two snapshots is the tree's CPU in
between. Memory is the summed RSS of the live members, sampled by a
background thread; shared pages count once per process, except that a
child still sharing its parent's address space (a vfork-style spawn
before its exec, as the JVM does for every shell command it runs) is
counted once: the two report the same RSS counter.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


Stat = tuple[int, bytes, float, int]  # ppid, comm, cpu seconds, rss bytes


def _read_stat(pid: str) -> Stat | None:
    """(ppid, comm, cpu seconds incl. reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # comm (field 2) may hold spaces and parens: split after the last ')'
    end = raw.rindex(b")")
    comm = raw[raw.index(b"(") + 1 : end]
    fields = raw[end + 2 :].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ppid, comm, ticks / _TICKS, int(fields[21]) * _PAGE


def snapshot(root: int) -> dict[int, Stat]:
    """pid -> stat for ``root`` and its descendants."""
    stats: dict[int, Stat] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(name)
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    out: dict[int, Stat] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def summed_rss(tree: dict[int, Stat]) -> int:
    """Summed RSS, counting a child that shares its parent's address
    space once. Sharing shows as the very same RSS page count (the child
    of a vfork-style spawn carries the spawning thread's name, not the
    parent's command); separate address spaces practically never match
    to the page, except a fork that has not yet touched a page, whose
    memory is all shared with its parent anyway."""
    total = 0
    for ppid, _comm, _cpu, rss in tree.values():
        parent = tree.get(ppid)
        if parent is not None and parent[3] == rss:
            continue
        total += rss
    return total


def tree_cpu_seconds(root: int) -> float:
    return sum(st[2] for st in snapshot(root).values())


def tree_rss_bytes(root: int) -> int:
    return summed_rss(snapshot(root))


def descendants(root: int) -> list[int]:
    return [pid for pid in snapshot(root) if pid != root]


class TreeSampler:
    """Peak summed RSS of a process tree between ``start`` and ``stop``,
    sampled every ``interval`` seconds on a daemon thread."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                break
        self._sample()

    def _sample(self) -> None:
        rss = tree_rss_bytes(self.root)
        self.peak_bytes = max(self.peak_bytes, rss)
        self.samples += 1

    def start(self) -> "TreeSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        return self.peak_bytes
