"""Reductions the benchmark reports: medians, percentiles, run-to-run spread
and the regression bound. Kept apart from run.py so the self-tests cover
exactly the code that produces the numbers."""
import math
import statistics


def median(values):
    return statistics.median(values)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest percentile that still has at least ten of n samples
    beyond it (None when n is too small for even the median)."""
    for p in candidates:
        if n * (100.0 - p) / 100.0 >= 10:
            return p
    return None


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median (statistics.quantiles with n=4, its default 'exclusive' method)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(parent_median, new_median, better):
    """How much worse the new median is than the parent's, as a share of the
    parent's (negative when it is better)."""
    if better == "lower":
        return (new_median - parent_median) / parent_median
    if better == "higher":
        return (parent_median - new_median) / parent_median
    raise ValueError(f"better must be 'lower' or 'higher', not {better!r}")


def within_bound(parent_median, new_median, better, bound):
    return worse_by(parent_median, new_median, better) <= bound
