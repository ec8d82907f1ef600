"""Summary statistics shared by the benchmark and its tests."""

from __future__ import annotations

import statistics


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, min_beyond: int = 10) -> tuple[float, float, int] | None:
    """The latency at the highest percentile that still has at least
    ``min_beyond`` samples above it.

    With ``n`` sorted samples the value at 0-based rank ``r`` has
    ``n - 1 - r`` samples beyond it, so the highest usable rank is
    ``n - 1 - min_beyond``.  Returns ``(value, percentile, n)`` where
    ``percentile`` is the share of samples at or below ``value`` in
    percent, or ``None`` when fewer than ``min_beyond + 1`` samples exist.
    """
    xs = sorted(values)
    n = len(xs)
    rank = n - 1 - min_beyond
    if rank < 0:
        return None
    return float(xs[rank]), 100.0 * (rank + 1) / n, n

