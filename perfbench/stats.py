"""Summary statistics for timings."""

from __future__ import annotations

import math
import statistics
from fractions import Fraction

PERCENTILES = (50, 75, 90, 95, 99, 99.9)
BEYOND = 10  # samples a reported percentile needs above it


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile in :data:`PERCENTILES` that
    has at least :data:`BEYOND` samples beyond it, by nearest rank;
    None when not even the median has that many."""
    n = len(values)
    usable = [p for p in PERCENTILES if n - _rank(p, n) >= BEYOND]
    if not usable:
        return None
    p = usable[-1]
    return p, sorted(values)[_rank(p, n) - 1]


def _rank(p: float, n: int) -> int:
    """Nearest rank of percentile ``p`` among ``n`` values, in exact
    arithmetic (99.9 / 100 * 10000 is 9990.000000000002 in floats)."""
    return math.ceil(Fraction(str(p)) * n / 100)


def summary(values: list[float]) -> dict:
    """Median, tail percentile and sample count of one timing."""
    tail = tail_percentile(values)
    return {
        "median": statistics.median(values) if values else None,
        "n": len(values),
        "tail": None if tail is None else {"p": tail[0], "value": tail[1]},
    }
