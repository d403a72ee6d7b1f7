"""The tail percentile the benchmark reports for latency samples."""

from __future__ import annotations

import math

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail percentile


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ``TAIL_BEYOND`` of
    ``n`` samples beyond it (nearest-rank)."""
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples: a tail needs more than {TAIL_BEYOND}")
    return math.floor(100 * (n - TAIL_BEYOND) / n)


def percentile(values, p: int) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    rank = max(1, math.ceil(p * len(s) / 100))
    return s[rank - 1]


def tail(values) -> tuple[float, int]:
    """(value, percentile) of the tail of ``values``."""
    p = tail_percentile(len(values))
    return percentile(values, p), p
