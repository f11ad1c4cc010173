"""Small, Spark-free helpers of the benchmark (unit-tested in test_perfbench)."""

from __future__ import annotations

import math
import os
import re
import threading
from statistics import NormalDist, median

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# beyond the tail percentile there must be at least this many samples
TAIL_BEYOND = 10


def check_metric_name(name: str) -> str:
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def tail(samples) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    TAIL_BEYOND samples strictly beyond it.

    With n sorted samples, the sample at 0-based index n-1-TAIL_BEYOND has
    exactly TAIL_BEYOND samples above it; its percentile is its rank share
    (index+1)/n. That percentile is below the median while n < 2*TAIL_BEYOND;
    such short runs report their maximum instead (percentile 100), so the
    tail never reads below the median.
    """
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    if len(xs) < 2 * TAIL_BEYOND:
        return xs[-1], 100.0
    i = len(xs) - 1 - TAIL_BEYOND
    return xs[i], 100.0 * (i + 1) / len(xs)


def p50(samples) -> float:
    return float(median(samples))


def bonferroni_z(checks: int, family_alpha: float = 1e-4) -> float:
    """Two-sided normal quantile so that ``checks`` independent estimates all
    pass with probability >= 1 - family_alpha when the sketch is correct."""
    return NormalDist().inv_cdf(1.0 - family_alpha / (2.0 * max(1, checks)))


def hll_tolerance(exact: int, p: int, z: float) -> float:
    """Allowed |estimate - exact| for an HLL with 2^p registers: z standard
    errors (1.04/sqrt(2^p) relative) plus 2 for hash collisions among a
    handful of items, where the relative error is not normal."""
    return z * 1.04 / math.sqrt(1 << p) * exact + 2.0


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Samples the summed RSS of this process's descendants (the Spark JVM
    and its Python workers) on a background thread; ``peak`` is the max."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval_s)

    def sample(self, me: int) -> int:
        now = sum(rss_bytes(p) for p in descendants(me))
        self.peak = max(self.peak, now)
        return now

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
