"""Statistics helpers shared by the benchmark's report and its tests."""
import math

# percentiles tried for a tail, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(values):
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no values")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def geomean(values):
    """Geometric mean of positive values: every sample weighs the same
    in log space, so one slow op kind cannot dominate the mean."""
    xs = list(values)
    if not xs:
        raise ValueError("geometric mean of no values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def geomean_of_medians(groups):
    """Geometric mean over the groups of each group's median: repeats of
    one op form a group, so one slow repeat cannot move the result."""
    return geomean(median(g) for g in groups)


def tail(values):
    """The highest percentile in TAIL_LADDER with at least MIN_BEYOND
    samples above its rank. Returns (pct, value, n, beyond). When even
    the median has fewer than MIN_BEYOND samples beyond it, the median
    is returned and `beyond` says how thin the tail is."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no values")
    for pct in TAIL_LADDER:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= MIN_BEYOND:
            return pct, xs[rank - 1], n, n - rank
    rank = max(1, math.ceil(n / 2.0))
    return 50.0, xs[rank - 1], n, n - rank


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end] intervals,
    clipped to [lo, hi] when given. Overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
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


def gap_length(start, end, busy):
    """Length of [start, end] not covered by any busy interval: the time
    a call spent with no stage running."""
    return (end - start) - union_length(busy, start, end)


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover.
    `span` and each child are (start, end)."""
    return gap_length(span[0], span[1], children)
