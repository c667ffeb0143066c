"""Percentiles for the benchmark's samples."""
import math


def percentile(samples, q):
    """Nearest-rank ``q``-quantile of ``samples``, or None when fewer than
    ten samples lie beyond it: a p50 needs 20 samples, a p90 needs 100."""
    xs = sorted(samples)
    if not xs:
        return None
    rank = max(1, math.ceil(q * len(xs)))
    if len(xs) - rank < 10:
        return None
    return xs[rank - 1]
