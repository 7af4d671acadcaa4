"""Sample summaries for the benchmark: the run's value of a metric, medians,
quartiles and the percentile ladder.

Every timing is reported from all of its samples (no best-of, no waiting
for a quiet host).  A run's value of a timing is a mean over the whole
timed loop, not a median: on a shared host whose speed flips between a
fast and a slow state every few seconds, the median of a handful of
samples jumps between the two states from run to run, while the mean
averages them.  A percentile above the median is reported only when at
least ``MIN_BEYOND`` samples lie beyond it, so a tail figure is never read
off two or three points.
"""

from __future__ import annotations

import statistics

# percentiles considered for the tail figure, lowest first
LADDER = (75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def run_value(values: list[float], how: str) -> float:
    """A run's value of a metric from its samples.  ``median``; ``mean``;
    or ``rate`` for per-op work/second samples of equal work each, where
    the harmonic mean is the run's total work over its total time."""
    if how == "median":
        return statistics.median(values)
    if how == "mean":
        return statistics.fmean(values)
    if how == "rate":
        return statistics.harmonic_mean(values)
    raise ValueError(f"unknown aggregation {how!r}")


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' definition: p=0 is
    the minimum, p=100 the maximum)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the p-th percentile
    position (nearest-rank count: ``n - ceil(n * p / 100)``)."""
    import math

    return n - math.ceil(n * p / 100.0 - 1e-9)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least MIN_BEYOND samples beyond
    it, or None when even the lowest rung has too few (p75 needs n >= 40)."""
    best = None
    for p in LADDER:
        if samples_beyond(n, p) >= MIN_BEYOND:
            best = p
    return best


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single sample is its own quartiles."""
    if not values:
        raise ValueError("quartiles of no samples")
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def summarize(values: list[float]) -> dict:
    """Median, quartiles, count and (when the sample-count rule allows)
    the tail percentile of one metric's samples."""
    q1, med, q3 = quartiles(values)
    out = {"median": med, "q1": q1, "q3": q3, "n": len(values)}
    tail = tail_percentile(len(values))
    if tail is not None:
        out[f"p{tail:g}"] = percentile(values, tail)
    return out
