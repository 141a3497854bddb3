"""Summary statistics the benchmark reports.

Pure functions with no Spark dependency, so the rules are unit-tested
on their own (``perfbench/tests``).
"""

from __future__ import annotations

import bisect
import statistics

#: Samples that must lie strictly beyond a percentile for it to count
#: as the tail.
TAIL_MIN_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n_beyond)`` of the tail: the highest
    nearest-rank percentile with at least ``TAIL_MIN_BEYOND`` samples
    strictly above it. With too few samples the maximum is returned as
    percentile 100 with nothing beyond it, so a short run shows as such
    instead of passing a median off as a tail."""
    if not samples:
        raise ValueError("tail of no samples")
    vals = sorted(samples)
    n = len(vals)
    for rank in range(n - TAIL_MIN_BEYOND, 0, -1):
        v = vals[rank - 1]
        beyond = n - bisect.bisect_right(vals, v)
        if beyond >= TAIL_MIN_BEYOND:
            return v, 100.0 * rank / n, beyond
    return vals[-1], 100.0, 0


def failed_frac(attempted: int, failed: int) -> float:
    """Failed operations over attempted operations."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
