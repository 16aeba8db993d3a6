"""Summary statistics shared by the runner and its tests."""
import math


def percentile(xs, p):
    """Linear-interpolation percentile, p in [0, 100]."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    r = p / 100 * (len(s) - 1)
    lo, hi = math.floor(r), math.ceil(r)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def median(xs):
    return percentile(xs, 50)


def tail(xs):
    """The highest whole percentile with at least ten samples beyond it.

    Returns (value, percentile, n), or None with fewer than 11 samples,
    where no percentile leaves ten beyond it.
    """
    n = len(xs)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    return percentile(xs, p), p, n
