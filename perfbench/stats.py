"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values; 0.0 for an empty list."""
    if not values:
        return 0.0
    if any(v <= 0 for v in values):
        raise ValueError(f"geomean needs positive values, got {values}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest of the percentiles 99, 95, 90, 75 and 50 that leaves
    at least `beyond` of `n` samples above it, or None when `n` is too
    small for even the median to qualify."""
    for p in (99, 95, 90, 75, 50):
        if n - math.ceil(n * p / 100) >= beyond:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        return 0.0
    ordered = sorted(values)
    rank = max(1, math.ceil(len(ordered) * p / 100))
    return ordered[rank - 1]
