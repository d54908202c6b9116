"""Summary statistics for latency samples."""

from __future__ import annotations

import math
import statistics

#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def nearest_rank(xs: list[float], p: float) -> float:
    """The p-th percentile by nearest rank: the smallest sample with at least
    p% of the samples at or below it."""
    s = sorted(xs)
    return s[max(1, math.ceil(p / 100.0 * len(s))) - 1]


def samples_beyond(n: int, p: float) -> int:
    """Samples ranked strictly above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def p90(xs: list[float]) -> float | None:
    """The 90th percentile, or None when fewer than ``MIN_BEYOND`` samples
    lie beyond it (fewer than 100 samples)."""
    if samples_beyond(len(xs), 90.0) < MIN_BEYOND:
        return None
    return nearest_rank(xs, 90.0)
