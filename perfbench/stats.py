"""Summary statistics used by the benchmark and its acceptance check."""

from __future__ import annotations

import statistics


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    values = list(values)
    if len(values) < 2:
        raise ValueError("quartiles need at least 2 samples")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (p in [0, 100]) of a non-empty sample."""
    values = sorted(values)
    if not values:
        raise ValueError("percentile of no samples")
    rank = max(1, -(-len(values) * p // 100))  # ceil without floats drifting
    return float(values[int(min(rank, len(values))) - 1])
