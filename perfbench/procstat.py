"""CPU time and resident memory of the processes a run starts, from /proc.

The benchmark's own Python process is the root: the JVM is its child,
the PySpark daemon and its workers are the JVM's descendants, and the
Postgres postmaster (with the backends it forks) is its child too.
moto's server is excluded because it stands in for remote S3.

CPU counts ``utime + stime + cutime + cstime``, so a worker or backend
that exits and is reaped by a tracked parent keeps counting through
its parent. Memory counts ``VmRSS`` of the Spark driver, the JVM and the
workers (not Postgres), sampled on a background thread.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _subtree(root: int, kids: dict[int, list[int]], skip: set[int]) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in skip:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def descendants() -> list[int]:
    """Every live process below this one."""
    return _subtree(os.getpid(), _children_map(), set())[1:]


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields after ")": state(0) ppid(1) ... utime(11) stime(12)
    # cutime(13) cstime(14)
    return int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


class ProcessTree:
    """The run's processes: everything under this process except the
    pids in ``skip`` (and their descendants)."""

    def __init__(self) -> None:
        self.skip: set[int] = set()
        self.no_memory: set[int] = set()

    def cpu_s(self) -> float:
        pids = _subtree(os.getpid(), _children_map(), self.skip)
        return sum(_cpu_ticks(p) for p in pids) / _TICK

    def rss_mb(self) -> float:
        pids = _subtree(os.getpid(), _children_map(),
                        self.skip | self.no_memory)
        return sum(_rss_bytes(p) for p in pids) / (1 << 20)


class PeakMemory:
    """Samples ``tree.rss_mb()`` every ``interval_s`` while running;
    ``take`` returns the peak since the last ``take``."""

    def __init__(self, tree: ProcessTree, interval_s: float = 0.1) -> None:
        self.tree = tree
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = self.tree.rss_mb()
            with self._lock:
                self.peak_mb = max(self.peak_mb, rss)
            self._stop.wait(self.interval_s)

    def take(self) -> float:
        rss = self.tree.rss_mb()
        with self._lock:
            peak, self.peak_mb = max(self.peak_mb, rss), 0.0
        return peak

    def __enter__(self) -> "PeakMemory":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._stop.clear()
