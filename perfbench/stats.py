"""Order statistics for the benchmark's metrics."""

import math

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, q):
    """q-th percentile, linear between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values):
    """(q, value) for the highest percentile with at least ten samples
    beyond it, or (None, None) when there are too few samples."""
    n = len(values)
    for q in TAIL_CANDIDATES:
        if n * (100.0 - q) / 100.0 >= MIN_BEYOND - 1e-9:
            return q, percentile(values, q)
    return None, None


def median(values):
    return percentile(values, 50) if values else None


def geomean(values):
    return math.exp(sum(math.log(x) for x in values) / len(values)) if values else None
