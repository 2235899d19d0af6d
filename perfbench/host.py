"""Host probes for the run record: CPU steal, load average, and the peak
summed RSS of the benchmark's process tree (driver, JVM, Python workers)."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """Host-wide CPU steal so far, from the ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _HZ if len(fields) > 8 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def tree_rss_bytes(root: int) -> int:
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
        todo += _children(pid)
    return total


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU seconds of the process tree, reaped children
    included; unlike wall time it does not grow while the host steals the
    CPUs."""
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime..cstime
        todo += _children(pid)
    return total / _HZ


class RssSampler(threading.Thread):
    """Samples the process tree's summed RSS until ``stop()``."""

    def __init__(self, root: int, interval_s: float = 0.2):
        super().__init__(name="perfbench-rss", daemon=True)
        self.root, self.interval_s = root, interval_s
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._halt.wait(self.interval_s)

    def stop(self) -> int:
        self._halt.set()
        self.join(timeout=5)
        return self.peak
