"""The benchmark's arithmetic: percentiles and their sample-count rule,
span self time, and core utilization. Pure functions over plain data,
so `test_stats.py` can pin them down.
"""
import math

# A percentile is trustworthy only with this many samples above it.
SAMPLES_BEYOND = 10


def percentile(values, p):
    """The p-th percentile (0..100) of `values`, interpolating linearly
    between the two closest ranks (rank = p/100 * (n - 1))."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = p / 100.0 * (len(xs) - 1)
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def samples_beyond(n, p):
    """How many of n samples lie above the p-th percentile."""
    return math.floor(n * (1 - p / 100.0) + 1e-9)


def highest_supported_percentile(n, choices=(50, 75, 90, 95, 99)):
    """The highest percentile in `choices` with at least SAMPLES_BEYOND
    samples above it, or None when even the lowest has too few."""
    ok = [p for p in choices if samples_beyond(n, p) >= SAMPLES_BEYOND]
    return max(ok) if ok else None


def covered(intervals, start, end):
    """Length of [start, end] covered by the union of `intervals`
    (clipped to the window; overlapping intervals count once)."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if min(e, end) > max(s, start))
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


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover.
    Spans are (start, end) pairs on one clock."""
    start, end = span
    return (end - start) - covered(children, start, end)


def core_util(task_s, wall_s, cores):
    """Share of the cores' capacity that tasks used while the phase ran:
    task time / (phase wall time x cores)."""
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return task_s / (wall_s * cores)

