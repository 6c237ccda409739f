"""The benchmark's arithmetic: medians, interval unions and failure ratios.

A run times too few ops (one or two) for any tail percentile: the highest
percentile with at least ten samples beyond it needs 100 samples for p90.
So every timing is a median, and the JSON line's `attempted` states the
sample count.
"""
import statistics


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals, each
    clipped to [lo, hi] when given. Unfinished intervals (end < start)
    are ignored."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def error_rate(attempted, failed):
    """Failed or wrong operations over operations attempted."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted

