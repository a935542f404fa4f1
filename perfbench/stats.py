"""Order statistics with an explicit sample-count rule."""

from __future__ import annotations

import math


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``,
    the same rule as numpy's default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def supported(q: float, n: int, beyond: int = 10) -> bool:
    """True when a sample of ``n`` puts at least ``beyond`` values above
    the ``q``-th percentile, so the percentile rests on more than a few
    outliers."""
    return n * (100.0 - q) / 100.0 >= beyond


def highest_supported(n: int, candidates=(99.9, 99, 95, 90, 75, 50)) -> float | None:
    """Highest candidate percentile that ``n`` samples support."""
    for q in candidates:
        if supported(q, n):
            return q
    return None

