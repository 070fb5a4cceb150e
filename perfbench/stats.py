"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

# a tail percentile is reported only with this many samples beyond it
MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    return float(s[max(0, math.ceil(p / 100.0 * len(s)) - 1)])


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def p95(xs: list[float]) -> float | None:
    """Nearest-rank p95, or None when fewer than ``MIN_BEYOND`` samples
    lie beyond it (fewer than 200 samples)."""
    return percentile(xs, 95) if beyond(len(xs), 95) >= MIN_BEYOND else None
