"""Percentiles for small samples."""

from __future__ import annotations

import math

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``%
    of the samples at or below it."""
    xs = sorted(samples)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """``(p, value)`` for the highest candidate percentile that has at
    least ten samples beyond it, or ``None`` when even the median has
    fewer (under 20 samples). A percentile with fewer samples beyond it
    is one or two observations, not a tail."""
    n = len(samples)
    for p in TAIL_CANDIDATES:
        if n - math.ceil(p / 100 * n) >= 10:
            return p, percentile(samples, p)
    return None
