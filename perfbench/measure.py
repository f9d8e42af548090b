"""Summary statistics and process-tree memory sampling."""

from __future__ import annotations

import os
import statistics
import threading


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, n)``. Below 21 samples that percentile
    would fall under the median, so the maximum is returned as
    percentile 100 instead.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 21:
        return float(xs[-1]), 100.0, n
    k = n - 11  # ten samples sit above xs[k]
    return float(xs[k]), round(100.0 * (k + 1) / n, 1), n


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def children(pid: int) -> list[int]:
    """Direct child process ids of ``pid`` (empty once it has exited)."""
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of a process and all its descendants: here the
    Python driver, the Spark JVM it launched and the Python workers."""
    todo, total = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(children(pid))
    return total / 1024.0


class PeakMemory:
    """Samples ``tree_rss_mb`` on a background thread and keeps the peak.

    Use as a context manager; the thread is joined on exit.
    """

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-memory", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
