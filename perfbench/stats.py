"""Order statistics used by the benchmark's report."""

from __future__ import annotations

import math

# Percentiles considered for a tail, highest first.
TAIL_LADDER = (99.9, 99.0, 98.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[_rank(len(ordered), p) - 1]


def _rank(n: int, p: float) -> int:
    # round first: 99.9 / 100 * 10_000 is 9990.000000000002 in floats
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def beyond(n: int, p: float) -> int:
    """Samples ranked above the nearest-rank ``p``-th percentile of ``n``."""
    return n - _rank(n, p)


def supported_tail(n: int, ladder=TAIL_LADDER) -> float | None:
    """Highest percentile in ``ladder`` with at least ten samples beyond
    it, or None when ``n`` supports none of them."""
    for p in ladder:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None
