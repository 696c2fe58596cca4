"""Order statistics used by every workload.

Percentiles use the nearest-rank rule, so a reported percentile is
always one of the measured samples.
"""

from __future__ import annotations

import math
import statistics

# candidates for the reported tail, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank; the epsilon keeps 99.9% of 10000 at 9990."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p: float) -> float:
    """Nearest-rank ``p``-th percentile of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(values) -> tuple[float, float]:
    """``(p, value)`` for the highest percentile of TAIL_LADDER that has
    at least MIN_BEYOND samples above its rank; the median when the
    sample is too small for any of them."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p, percentile(values, p)
    return 50.0, percentile(values, 50.0)


def median(values) -> float:
    return statistics.median(values)


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))
