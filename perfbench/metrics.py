"""Pure metric math for the graft benchmark (unit-checked in test_metrics.py).

Spans are dicts with id, parent, name, start_us, end_us; a job is a span
named job<N>. Intervals are (start, end) pairs in microseconds.
"""
import math
import statistics


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def gap(window, job_intervals):
    """Time inside `window` during which no job was running."""
    lo, hi = window
    return (hi - lo) - union_length(job_intervals, lo, hi)


def nearest_rank(values, pct):
    """Nearest-rank percentile: the ceil(pct/100 * n)-th smallest value."""
    xs = sorted(values)
    k = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[k - 1]


def tail(values, beyond=10):
    """Highest whole nearest-rank percentile with at least `beyond` samples
    above it. Returns (percentile, value, n), or (None, None, n) when there
    are too few samples for any percentile to qualify."""
    n = len(values)
    best = None
    for pct in range(1, 100):
        k = max(1, math.ceil(pct / 100.0 * n))
        if n - k >= beyond:
            best = pct
    if best is None:
        return None, None, n
    return best, nearest_rank(values, best), n


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"])
            - union_length(kids.get(s["id"], []), s["start_us"], s["end_us"])
            for s in spans}


def descendants(spans, root_id):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for s in kids.get(todo.pop(), []):
            out.append(s)
            todo.append(s["id"])
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
