"""Small order statistics used by the benchmark."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """Highest whole percentile ``p`` with at least ``min_beyond`` of
    ``n`` samples strictly beyond it, or None when ``n`` is too small.

    The rank of percentile ``p`` is ``ceil(p/100 * n)`` (nearest rank);
    the samples beyond it are ``n - rank``.
    """
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100 * n) >= min_beyond:
            return p
    return None


def nearest_rank(values, p: int) -> float:
    """Nearest-rank percentile ``p`` of ``values``."""
    xs = sorted(values)
    return float(xs[max(0, math.ceil(p / 100 * len(xs)) - 1)])
