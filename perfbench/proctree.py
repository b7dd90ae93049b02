"""Resources of this process and all its descendants (the Spark JVM and
the Python workers it starts), read from /proc.

- :func:`tree_rss` is the resident memory of the tree.
- :func:`tree_cpu_s` is the CPU time the tree has used so far: user +
  system time of every live process, plus the times of the children it
  has reaped (so a Python worker that exits still counts, through the
  daemon that waited for it). In a virtual machine, time the host takes
  a CPU away from the guest (steal) is not in it.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str]:
    """The fields of a /proc stat file after the command name, so that
    index ``i`` is field ``i + 3`` of proc(5)."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _table() -> dict[int, tuple[int, int, int, int]]:
    """pid -> (ppid, virtual pages, resident pages, CPU ticks) of every
    process; CPU ticks are utime + stime + cutime + cstime."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            st = _stat_fields(f"/proc/{name}/stat")
            with open(f"/proc/{name}/statm") as f:
                statm = f.read().split()
        except OSError:
            continue
        out[int(name)] = (int(st[1]), int(statm[0]), int(statm[1]),
                          int(st[11]) + int(st[12]) + int(st[13]) + int(st[14]))
    return out


def _in_tree(table, pid: int, root: int) -> bool:
    while pid > 1 and pid != root:
        pid = table[pid][0] if pid in table else 0
    return pid == root


def tree_rss() -> int:
    """Resident bytes of the tree. A child whose virtual size equals its
    parent's has not yet diverged from the parent's memory (e.g. the JVM
    between spawning a helper and its exec, when /proc shows the whole
    JVM's RSS twice); it is not counted."""
    table = _table()
    me = os.getpid()
    total = 0
    for pid, (ppid, size, rss, _) in table.items():
        if ppid in table and size == table[ppid][1]:
            continue
        if _in_tree(table, pid, me):
            total += rss * _PAGE
    return total


def thread_cpu_s(tid: int) -> float:
    """CPU seconds of one thread of this process."""
    st = _stat_fields(f"/proc/self/task/{tid}/stat")
    return (int(st[11]) + int(st[12])) / _TICK


class TreeCpu:
    """CPU seconds the tree has used, less the threads listed in
    ``exclude`` (the benchmark's own samplers)."""

    def __init__(self):
        self.exclude: list[int] = []

    def __call__(self) -> float:
        table = _table()
        me = os.getpid()
        ticks = sum(t[3] for pid, t in table.items() if _in_tree(table, pid, me))
        own = 0.0
        for tid in self.exclude:
            try:
                own += thread_cpu_s(tid)
            except OSError:
                pass
        return ticks / _TICK - own

    def settle(self, step: float = 0.1, limit: float = 1.0) -> float:
        """The tree's CPU seconds once it has gone idle: no more than one
        clock tick in ``step`` seconds, or ``limit`` seconds at most.
        Read after a call, this charges the call with the background work
        it set off (the JVM compiling its code, garbage collection), and
        leaves none of it to the next call."""
        c = self()
        end = time.monotonic() + limit
        while time.monotonic() < end:
            time.sleep(step)
            c2 = self()
            if c2 - c <= 1.0 / _TICK:
                return c2
            c = c2
        return c


class RssSampler:
    """Peak resident memory of the tree, sampled every 0.2 s on a
    thread of its own. ``cpu`` learns that thread's id, so the
    sampler's CPU is not charged to requests."""

    def __init__(self, cpu: TreeCpu):
        self.peak = 0
        self._cpu = cpu
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        self._cpu.exclude.append(threading.get_native_id())
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss())
            self._stop.wait(0.2)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
