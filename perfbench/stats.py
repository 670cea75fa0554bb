"""Summary statistics shared by the workloads and the traced run."""

from __future__ import annotations

import math
import statistics
from typing import Optional, Sequence, Tuple

TAIL_MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def tail_percentile(n: int, cap: float = 90.0) -> Optional[int]:
    """Highest whole percentile, at most *cap*, that leaves at least
    ``TAIL_MIN_BEYOND`` samples strictly beyond its nearest-rank sample;
    ``None`` when *n* samples support no such percentile above the median."""
    best = None
    for p in range(50, int(cap) + 1):
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            best = p
    return best


def tail(values: Sequence[float], cap: float = 90.0) -> Tuple[float, Optional[int]]:
    """``(value, percentile)`` at :func:`tail_percentile`; falls back to the
    maximum (percentile ``None``) when there are too few samples."""
    p = tail_percentile(len(values), cap)
    if p is None:
        return float(max(values)), None
    return percentile(values, p), p


def ratio(num: float, den: float) -> float:
    """``num / den``, 0 when the base is empty (never a division error)."""
    return float(num) / den if den else 0.0
