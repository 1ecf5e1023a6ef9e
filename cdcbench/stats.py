"""Summary statistics used by every workload."""

from __future__ import annotations

import math
import statistics

#: percentiles the tail is chosen from, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def _rank(p: float, n: int) -> int:
    # rounded first so that, e.g., 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest percentile of TAIL_LADDER that leaves at least ten of
    ``n`` samples beyond it, or None when even p75 does not (fewer than
    40 samples; a lower "tail" would read below the median)."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= 10:
            return p
    return None


def tail(values: list[float]) -> tuple[float, float | None]:
    """(tail value, its percentile).  With too few samples for any
    ladder percentile the maximum is reported, with percentile None, so
    the figure is still a worst case and the record says why."""
    p = tail_percentile(len(values))
    if p is None:
        return max(values), None
    return percentile(values, p), p


def median(values: list[float]) -> float:
    return statistics.median(values)


def timing(values: list[float]) -> dict:
    """Median plus tail, with the percentile and sample count."""
    t, p = tail(values)
    return {"p50": median(values), "tail": t, "tail_pct": p,
            "n": len(values)}
