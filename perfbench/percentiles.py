"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def median_or_none(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, int, int] | None:
    """The highest whole percentile that still has at least ``beyond``
    samples above it, by the nearest-rank rule.

    Returns ``(value, percentile, samples_beyond)``, or None when there are
    ``beyond`` samples or fewer.
    """
    n = len(samples)
    if n <= beyond:
        return None
    pct = math.floor(100 * (n - beyond) / n)
    rank = max(1, math.ceil(pct * n / 100))
    ordered = sorted(samples)
    return ordered[rank - 1], pct, n - rank
