"""Order statistics the benchmark reports, with the tail-percentile guard."""

import math
import statistics

# A tail percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10


class TailRefused(ValueError):
    """The run has too few samples beyond the requested percentile."""


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(values, pct):
    """Nearest-rank `pct` percentile (0 < pct < 1) of `values`.

    Refuses, by raising TailRefused, when fewer than MIN_BEYOND samples
    lie strictly beyond the chosen rank: such a "tail" would be set by a
    handful of samples and swing from run to run.
    """
    if not 0 < pct < 1:
        raise ValueError(f"percentile {pct} outside (0, 1)")
    n = len(values)
    rank = max(1, math.ceil(pct * n))
    beyond = n - rank
    if beyond < MIN_BEYOND:
        raise TailRefused(
            f"p{pct * 100:g} of {n} samples has {beyond} beyond it; {MIN_BEYOND} needed")
    return sorted(values)[rank - 1]


def quartile_spread(values):
    """(Q3 - Q1) / median, as statistics.quantiles(values, n=4) gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
