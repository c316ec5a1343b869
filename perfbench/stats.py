"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def geomean(values) -> float:
    values = list(values)
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values, beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``: with ``n`` samples sorted, the
    sample at 1-based rank ``n - beyond`` has exactly ``beyond`` samples
    after it and sits at percentile ``100 * (n - beyond) / n``.  With
    ``n <= beyond`` no sample qualifies and the median stands in, at
    percentile 50."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= beyond:
        return statistics.median(xs), 50.0, n
    rank = n - beyond
    return xs[rank - 1], 100.0 * rank / n, n

