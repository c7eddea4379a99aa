"""Order statistics used for every reported timing."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is only reported when this many samples lie beyond it
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, wanted: float = 90.0) -> float:
    """The percentile to report as the tail of ``n`` samples: ``wanted``
    when at least :data:`TAIL_MIN_BEYOND` samples lie beyond it, else
    the highest percentile that still has that many beyond it (never
    below the median)."""
    if n <= 0:
        raise ValueError("no samples")
    highest = 100.0 * (1.0 - TAIL_MIN_BEYOND / n)
    return max(50.0, min(wanted, math.floor(highest)))


def median(values: list[float]) -> float:
    return statistics.median(values)
