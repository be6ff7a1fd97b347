"""Percentile, spread and bound arithmetic shared by run.py and steady.py."""
import math
import re
import statistics

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def percentile(values, p):
    """The p-th percentile (0..100) by linear interpolation between
    closest ranks, as numpy's default method computes it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def beyond(n, p):
    """How many of n samples lie above the p-th percentile's rank."""
    return n - 1 - math.floor((n - 1) * p / 100.0)


def supported_percentile(n, tail=10):
    """The highest whole percentile with at least `tail` samples beyond
    it, or None when n is too small for any."""
    for p in range(99, -1, -1):
        if beyond(n, p) >= tail:
            return p
    return None


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, with the quartiles statistics.quantiles(n=4) gives."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(parent, child, better):
    """How much worse child is than parent, as a share of parent;
    negative when child is better."""
    diff = child - parent if better == "lower" else parent - child
    return diff / parent


def within_bound(parent, child, better, bound):
    return worse_by(parent, child, better) <= bound
