"""CPU and memory of a process tree, sampled from /proc (no psutil).

The tree is the benchmark's own process and every descendant: the Spark
JVM, the pyspark daemon and the Python workers it forks. CPU is the sum
of each process's own user+system ticks; a process that exits keeps the
value of its last sample, so only the ticks it spent after that sample
are lost."""
from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
PERIOD_S = 0.1


def _stat(pid: str):
    """(ppid, cpu ticks, rss bytes, comm) of one process, or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fp:
            raw = fp.read().decode("ascii", "replace")
    except OSError:
        return None
    (head, _, rest) = raw.rpartition(")")
    comm = head.partition("(")[2]
    f = rest.split()
    # fields after the comm: state=0 ppid=1 ... utime=11 stime=12 ... rss=21
    return (int(f[1]), int(f[11]) + int(f[12]), int(f[21]) * _PAGE, comm)


class ProcSampler:
    """Samples the tree under this process every PERIOD_S on a thread.

    ``cpu_seconds()`` reads the tree now and returns its total CPU so far;
    ``peak_worker_rss`` is the largest summed RSS of the Python processes
    below the JVM seen in any sample."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_worker_rss = 0
        self._cpu: dict[int, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> ProcSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while not self._stop.wait(PERIOD_S):
            self.sample()

    def _tree(self):
        """({pid: stat} of every process, pids of the tree under root)."""
        procs = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                st = _stat(pid)
                if st is not None:
                    procs[int(pid)] = st
        children: dict[int, list[int]] = {}
        for (pid, st) in procs.items():
            children.setdefault(st[0], []).append(pid)
        tree, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid in procs:
                tree.append(pid)
            todo.extend(children.get(pid, ()))
        return (procs, tree)

    def descendants(self) -> list[int]:
        return [p for p in self._tree()[1] if p != self.root]

    def sample(self) -> None:
        (procs, tree) = self._tree()
        # Python workers: python processes in the tree other than the root
        # (the pyspark daemon and the workers it forks)
        rss = sum(procs[p][2] for p in tree
                  if p != self.root and procs[p][3].startswith("python"))
        with self._lock:
            for pid in tree:
                self._cpu[pid] = procs[pid][1]
            self.peak_worker_rss = max(self.peak_worker_rss, rss)

    def cpu_seconds(self) -> float:
        self.sample()
        with self._lock:
            return sum(self._cpu.values()) / _TICK
