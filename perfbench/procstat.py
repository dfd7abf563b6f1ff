"""CPU and memory of the Spark process tree, read from ``/proc``.

The tree is every descendant of the benchmark's own process: the Spark
driver JVM (started by PySpark's gateway launcher) and the Python worker
daemon with its forked workers. The benchmark process itself is excluded,
so its generator and checks never count as program cost. Nothing runs in
another process: a thread of the benchmark polls ``/proc`` for peak memory.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # process ended between listdir and open
        return None
    # comm may hold spaces or parens; the fields after the last ')' are fixed
    return raw[raw.rindex(")") + 2 :].split()


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


class ProcTree:
    """Descendants of ``root`` (default: this process)."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            st = _stat(name)
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            for c in children.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    def cpu_s(self) -> float:
        """User + system seconds of the live tree, including reaped children
        (a worker's time moves to its parent's ``cutime`` when it exits)."""
        ticks = 0
        for pid in self.pids():
            st = _stat(str(pid))
            if st is not None:
                # fields 14-17 of stat: utime stime cutime cstime
                ticks += sum(int(x) for x in st[11:15])
        return ticks / _TICK

    def rss_bytes(self) -> int:
        """Summed resident memory (shared pages of forked workers count once
        per process)."""
        return sum(_rss_bytes(p) for p in self.pids())


class PeakRss:
    """Polls :meth:`ProcTree.rss_bytes` on a thread; ``peak`` is the largest
    sum seen since the last :meth:`reset`."""

    INTERVAL_S = 0.05

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            rss = self.tree.rss_bytes()
            with self._lock:
                self.peak = max(self.peak, rss)

    def reset(self) -> None:
        with self._lock:
            self.peak = 0

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
