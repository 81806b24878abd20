"""Summary statistics for the benchmark's samples.

A percentile above the median is only reported when at least ten samples lie
beyond it; with fewer, the value is set by a handful of outliers and does not
repeat from run to run.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99, 95, 90, 75)


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank q-th percentile of n samples."""
    return n - max(1, math.ceil(q / 100.0 * n))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank q-th percentile. Raises ValueError when q is above the
    median and fewer than MIN_BEYOND samples lie beyond it."""
    if not values:
        raise ValueError("no samples")
    n = len(values)
    if q > 50 and samples_beyond(n, q) < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} of {n} samples has {samples_beyond(n, q)} beyond it; "
            f"need at least {MIN_BEYOND}"
        )
    return sorted(values)[max(1, math.ceil(q / 100.0 * n)) - 1]


def highest_tail(values: list[float]) -> tuple[float, float] | None:
    """(q, value) of the highest TAIL_PERCENTILES entry the samples support,
    or None when even the lowest needs more samples."""
    for q in TAIL_PERCENTILES:
        if samples_beyond(len(values), q) >= MIN_BEYOND:
            return q, percentile(values, q)
    return None


def median(values: list[float]) -> float:
    return float(statistics.median(values))
