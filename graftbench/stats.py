"""Metric arithmetic shared by run.py and its tests."""
import math


def percentile(values, q):
    """The q-th percentile (0 <= q <= 100) by linear interpolation between
    closest ranks, the rule numpy calls 'linear'."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def beyond(n, q):
    """How many of n samples lie above the q-th percentile's rank."""
    return n - math.ceil(n * q / 100.0)


def ratio(num, den):
    """num / den, or 0.0 when nothing was attempted."""
    return num / den if den else 0.0
