"""Summary statistics the benchmark reports (pure Python, no Spark)."""

from __future__ import annotations

import statistics

# a reported tail percentile needs at least this many samples beyond it
MIN_BEYOND = 10
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` (one decimal) among ``n``,
    in integers so 99.9% of 10000 is exactly rank 9990."""
    return max(1, -(-round(p * 10) * n // 1000))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the smallest value with at least p% of the
    samples at or below it)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n: int):
    """Highest of PERCENTILES that leaves at least MIN_BEYOND of ``n``
    samples strictly above its rank, or None when even the median does
    not (fewer than 2 * MIN_BEYOND samples)."""
    for p in PERCENTILES:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return None


def mean(values) -> float:
    return sum(values) / len(values) if values else 0.0
