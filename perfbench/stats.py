"""Summary statistics of the benchmark.

A timing is reported as its median and its tail: the highest of the
percentiles in TAIL_PERCENTILES that has at least ten samples beyond it
(nearest-rank). With fewer than 20 samples no percentile qualifies and the
tail is the maximum, reported as percentile 100.
"""
import math
import statistics

TAIL_PERCENTILES = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def nearest_rank(values, p):
    """The p-th percentile by nearest rank (p in (0, 100])."""
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail(values):
    """(percentile, value) of the tail rule above."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n - math.ceil(p / 100.0 * n) >= MIN_BEYOND:
            return p, nearest_rank(values, p)
    return 100, max(values)


def summary(values):
    p, v = tail(values)
    return {"n": len(values), "p50": statistics.median(values), "tail_p": p, "tail": v}

