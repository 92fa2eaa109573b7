"""Small statistics the benchmark reports, kept apart so tests can pin them."""

from __future__ import annotations

import math
import statistics
from typing import Sequence

TAIL_BEYOND = 10


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> float | None:
    """The highest percentile (whole or half steps, in percent) of ``n``
    samples that leaves at least ``beyond`` samples strictly above it, or
    None when there are too few samples for any."""
    if n <= beyond:
        return None
    # rank of the percentile (1-based, nearest-rank) must be <= n - beyond
    p = 100.0 * (n - beyond) / n
    return math.floor(p * 2) / 2


def spread(values: Sequence[float]) -> float:
    """Quartile distance over the median: the spread a metric's bound is judged by."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
