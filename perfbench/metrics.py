"""Metric arithmetic and host recording for the catalog benchmark.

Percentiles are nearest-rank. A tail percentile is reported only where
at least ``MIN_BEYOND`` samples lie beyond it, so a tail figure is never
the single slowest request of a run.
"""

from __future__ import annotations

import math
import os
import threading

MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly beyond the nearest-rank ``p`` percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_tail(n: int, ladder=(50, 75, 80, 90, 95, 99, 99.9)) -> float:
    """The highest percentile on ``ladder`` with at least MIN_BEYOND
    samples beyond it at sample count ``n`` (None when even p50 has
    too few)."""
    best = None
    for p in ladder:
        if beyond(n, p) >= MIN_BEYOND:
            best = p
    return best


def error_ratio(attempted: int, failed: int, wrong: int) -> float:
    """Failed or wrong operations over attempted ones; a wrong output
    counts as a failure even when the request itself succeeded."""
    if attempted <= 0:
        raise ValueError("no operations attempted")
    return (failed + wrong) / attempted


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        parts = [int(x) for x in f.readline().split()[1:]]
    steal = parts[7] if len(parts) > 7 else 0
    return steal, sum(parts[:8])


class HostRecorder:
    """Samples the summed RSS of a set of processes in a thread, and
    records nproc, load average and CPU steal over the recording."""

    def __init__(self, pids, interval_s: float = 0.2):
        self._pids = list(pids)
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_kb = 0

    def _sample(self) -> None:
        self.peak_kb = max(self.peak_kb,
                           sum(_rss_kb(p) for p in self._pids))

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def __enter__(self):
        self._steal0, self._total0 = _cpu_times()
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        steal1, total1 = _cpu_times()
        self.steal_pct = (100.0 * (steal1 - self._steal0)
                          / max(1, total1 - self._total0))
        self.loadavg_1m = os.getloadavg()[0]
        self.nproc = len(os.sched_getaffinity(0))
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def record(self) -> dict:
        return {"nproc": self.nproc, "loadavg_1m": self.loadavg_1m,
                "steal_pct": round(self.steal_pct, 3)}
