"""Arithmetic behind the benchmark's metrics: medians, the tail-percentile
rule, unions of task intervals and span self time. Pure functions, so
tests/test_metrics.py can pin them.
"""
import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99, 95, 90, 75, 50)
MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def geomean(values):
    """Geometric mean of positive values: every operation counts the same,
    whatever its cost, and one operation's noise moves it smoothly."""
    return math.exp(statistics.fmean(math.log(v) for v in values)) if values else 0.0


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    rank = p / 100.0 * (len(xs) - 1)
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_percentile(n):
    """Highest percentile of the ladder with at least ten of n samples beyond
    it; None when even the median has fewer than ten beyond it."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND:
            return p
    return None


def tail(values):
    """(value, percentile) by the tail rule. When n < 20 no percentile has
    ten samples beyond it; the median is reported and the percentile is
    None, so a reader sees the rule was not met."""
    p = tail_percentile(len(values))
    return percentile(values, 50 if p is None else p), p


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals, clipped
    to [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def idle_time(lo, hi, task_intervals):
    """Wall time in [lo, hi] during which no task was running."""
    return (hi - lo) - union_length(task_intervals, lo, hi)


def self_times(spans):
    """{span id: duration minus the part of it covered by direct children}.

    spans: dicts with id, parent, start, end.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
