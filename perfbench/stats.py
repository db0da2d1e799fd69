"""Percentiles that refuse to be read from too few samples."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Nearest-rank ``q``-quantile of ``values`` (0 < q < 1).

    Raises ``ValueError`` unless at least ``MIN_BEYOND`` samples lie
    beyond the returned rank, so a p90 needs 100 samples and a p99
    needs 1000."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile out of range: {q}")
    xs = sorted(values)
    n = len(xs)
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} of {n} samples has {n - rank} beyond it; "
            f"need {MIN_BEYOND}"
        )
    return float(xs[rank - 1])


def quartile_spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median, as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
