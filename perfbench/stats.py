"""Small measurement helpers: percentiles, the host-noise probe and memory."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

PHASE_FACTOR = 2.0


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile that still has at least ``beyond`` samples
    above it, as ``(percentile, value)``.  With n sorted samples the value at
    index i has n - 1 - i samples beyond it, so the answer sits at index
    n - 1 - beyond and is that index's percentile rank ``100 * i / (n - 1)``.
    Raises ValueError when there are too few samples."""
    n = len(samples)
    if n < beyond + 1:
        raise ValueError(f"{n} samples leave no percentile with {beyond} beyond it")
    i = n - 1 - beyond
    return (100.0 * i / (n - 1) if n > 1 else 100.0), sorted(samples)[i]


def another_pass(elapsed: float, pass_walls: list[float], seconds: float, min_passes: int = 1) -> bool:
    """Whether the timed loop starts another pass: always until
    ``min_passes`` are done, then only while one more pass of the median
    length so far still ends within ``seconds``."""
    if len(pass_walls) < min_passes:
        return True
    return elapsed + statistics.median(pass_walls) <= seconds


def control_probe() -> float:
    """Seconds for a fixed pure-Python workload, used to tell a slow host
    phase from a slow program."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc * 1103515245 + i) % 2147483647
    return time.perf_counter() - t0


def phase_suspects(controls: list[float], factor: float = PHASE_FACTOR) -> list[bool]:
    """Flag each control reading more than ``factor`` times the run's
    fastest one: the host was in a slow phase around that reading."""
    if not controls:
        return []
    floor = min(controls)
    return [c > factor * floor for c in controls]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


# -- /proc ---------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def rss_mb(pids: list[int]) -> float:
    """Sum of the current resident set (VmRSS) of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


class PeakRss:
    """Samples the summed resident set of a process and all its descendants
    every ``interval`` seconds on a daemon thread; ``peak_mb`` is the
    largest sum seen.  Python workers come and go, so their own peaks
    cannot be read once the run ends."""

    def __init__(self, pid: int, interval: float = 0.25):
        self.pid, self.interval, self.peak_mb = pid, interval, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, rss_mb([self.pid] + descendants(self.pid)))

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
