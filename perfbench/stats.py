"""Small order statistics shared by the timed and the traced runs."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (``p`` in 0..100) of ``values``."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten of ``n`` samples
    beyond it; below twenty samples (where that would fall under the
    median), the highest with one beyond it."""
    if n < 2:
        return 100
    beyond = 10 if n >= 20 else 1
    return math.floor(100 * (n - beyond) / n)


def tail(values) -> tuple[float, int]:
    """(value, percentile) at :func:`tail_percentile`."""
    p = tail_percentile(len(values))
    return percentile(values, p), p
