"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

# percentiles tried, highest first, when naming a tail
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float, int]:
    """(percentile, value, sample count) for the highest percentile in
    TAIL_LADDER that leaves at least MIN_BEYOND samples beyond it.

    With fewer than 2 * MIN_BEYOND samples no percentile qualifies; the
    maximum is reported as percentile 100 and the count says how little
    stands behind it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail() needs at least one sample")
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 6) >= MIN_BEYOND:
            # nearest-rank: the smallest sample with at least p% at or below it
            rank = max(1, -(-n * p // 100))
            return p, float(xs[int(rank) - 1]), n
    return 100.0, float(xs[-1]), n
