"""The benchmark's percentile rule."""

from __future__ import annotations

import math

# a percentile is reported only when at least this many samples lie
# beyond it; below that the tail is one or two unlucky jobs, not a figure
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in [0, 100]) of a non-empty list."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def reportable(n: int, q: float) -> bool:
    """True when at least ``MIN_BEYOND`` of ``n`` samples lie above the
    ``q``-th percentile, so p90 needs 100 samples and p99 needs 1000."""
    return n * (100.0 - q) / 100.0 >= MIN_BEYOND - 1e-9


def highest_reportable(n: int) -> float | None:
    """The highest tail percentile (p90/p99/p99.9) that ``n`` samples
    support, or None. The median is always reported beside it."""
    best = None
    for q in (90.0, 99.0, 99.9):
        if reportable(n, q):
            best = q
    return best
