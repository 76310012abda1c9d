"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples a reported tail percentile must have beyond it


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest nearest-rank percentile with at
    least ``TAIL_BEYOND`` samples beyond it.

    With ``n`` sorted samples that is the sample at rank ``n - 10``
    (1-based), the ``100 * (n - 10) / n`` percentile. Below ``2 * 10``
    samples that rank falls under the median, so the sample supports no
    tail: the maximum is reported instead, as percentile 100.
    """
    if not values:
        raise ValueError("tail of no samples")
    xs = sorted(values)
    n = len(xs)
    if n < 2 * TAIL_BEYOND:
        return float(xs[-1]), 100.0
    return float(xs[n - TAIL_BEYOND - 1]), 100.0 * (n - TAIL_BEYOND) / n
