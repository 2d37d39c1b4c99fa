"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
from collections.abc import Sequence

TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolation percentile (the NumPy default): rank
    ``p/100 * (n-1)`` over the sorted values."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0.0 <= p <= 100.0:
        raise ValueError(f"percentile {p} outside [0, 100]")
    xs = sorted(values)
    rank = p / 100.0 * (len(xs) - 1)
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest percentile of TAIL_LADDER with at least ``min_beyond`` of
    ``n`` samples above it; None when even the median has too few."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= min_beyond:
            return p
    return None


def op_fail_ratio(attempted: int, failed: int) -> float:
    """Failed or wrong operations over attempted ones."""
    if attempted <= 0:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted

