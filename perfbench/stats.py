"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a share
    ``q`` of the samples at or below it, so the value is a real sample and
    ``beyond(len(values), q)`` samples lie above it."""
    if not values:
        raise ValueError("percentile of no samples")
    ranked = sorted(values)
    return ranked[max(1, math.ceil(q * len(ranked))) - 1]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples rank above the nearest-rank ``q``."""
    return n - max(1, math.ceil(q * n))


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values: list[float]) -> float:
    return statistics.median(values)
