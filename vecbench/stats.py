"""Summary statistics shared by the workloads and the tests."""

from __future__ import annotations

import statistics

# a tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ``TAIL_MIN_BEYOND`` samples strictly above its rank.

    With n samples sorted ascending, the order statistic at 0-based
    rank ``n - TAIL_MIN_BEYOND - 1`` has exactly ``TAIL_MIN_BEYOND``
    samples after it; its percentile is ``100 * (rank + 1) / n``. Fewer
    than ``TAIL_MIN_BEYOND + 1`` samples have no such percentile, so
    the maximum is returned with percentile 100 and the caller reports
    the percentile next to the value.
    """
    xs = sorted(values)
    if not xs:
        raise ValueError("tail of no samples")
    rank = len(xs) - TAIL_MIN_BEYOND - 1
    if rank < 0:
        return float(xs[-1]), 100.0
    return float(xs[rank]), 100.0 * (rank + 1) / len(xs)

