"""Summary statistics for timings."""
import math
import statistics


class InsufficientSamples(ValueError):
    pass


def percentile(samples, q):
    """Nearest-rank q-th percentile (0 < q < 1).

    Refuses when fewer than ten samples lie beyond it: a tail figure
    resting on a handful of samples reads as a measurement but is noise.
    """
    n = len(samples)
    rank = math.ceil(q * n)
    if n == 0 or n - rank < 10:
        raise InsufficientSamples(f"p{q * 100:g} of {n} samples has {max(0, n - rank)} beyond it")
    return sorted(samples)[rank - 1]


def highest_percentile(samples, qs=(0.99, 0.9)):
    """(q, value) for the highest of `qs` the samples support, else None."""
    for q in qs:
        try:
            return q, percentile(samples, q)
        except InsufficientSamples:
            continue
    return None


def median(samples):
    return statistics.median(samples)

