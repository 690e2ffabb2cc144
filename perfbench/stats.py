"""Order statistics the benchmark reports."""

from __future__ import annotations

import math


def tail(values: list[float], beyond: int = 10) -> tuple[float, int, int] | None:
    """The highest whole percentile that still has at least ``beyond``
    samples above it, as ``(value, percentile, sample_count)``.

    Uses nearest-rank percentiles: percentile ``p`` of ``n`` sorted
    samples is the sample at rank ``ceil(p·n/100)``, which leaves
    ``n - rank`` samples beyond it. ``None`` when fewer than
    ``beyond + 1`` samples exist, because then no percentile qualifies.
    """
    n = len(values)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return float(sorted(values)[rank - 1]), p, n
