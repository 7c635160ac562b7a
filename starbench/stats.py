"""Order statistics shared by the benchmark runner, the steadiness script
and the tests."""

import math


def median(xs):
    """Median; the mean of the two middle values for an even count."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def percentile(xs, p):
    """Percentile `p` (0-100) with linear interpolation between closest
    ranks, as numpy's default and Python's `quantiles(method="inclusive")`."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


TAIL_PERCENTILES = (99.9, 99.0, 90.0, 50.0)


def tail_percentile(n):
    """The highest of TAIL_PERCENTILES with at least ten of `n` samples
    beyond it, or None when even the median has fewer than ten."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def quartiles(xs):
    """(Q1, median, Q3) as `statistics.quantiles(xs, n=4)` gives them."""
    import statistics
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0])
    q = statistics.quantiles(xs, n=4)
    return (q[0], q[1], q[2])


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, m, q3 = quartiles(xs)
    return (q3 - q1) / m if m else float("inf")
