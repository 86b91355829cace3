"""Statistics the benchmark reports, kept free of I/O so they can be tested.

Timings are reported as a median plus a tail: the highest percentile that
still has at least TAIL_BEYOND samples beyond it. Span arithmetic works on
half-open [start, end) intervals in microseconds.
"""
import statistics

TAIL_BEYOND = 10


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, q2, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q = statistics.quantiles(values, n=4)
    return q[0], q[1], q[2]


def tail(values, beyond=TAIL_BEYOND):
    """The tail statistic of `values`: (value, percentile, samples beyond).

    Sorted ascending, the k-th smallest sample (1-based) has n - k samples
    beyond it, so the highest order statistic with at least `beyond` samples
    past it is k = n - beyond; its percentile is 100 * k / n. The tail never
    reads below the median: with at most 2 * beyond samples (where
    k = n - beyond would fall at or under the median) it is the median,
    reported with its own percentile and count, so a short window never
    passes off a low order statistic as a tail.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = n - beyond
    if 2 * k <= n:
        return median(xs), 50.0, n // 2
    return xs[k - 1], 100.0 * k / n, n - k


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_start, cur_end = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(interval, window):
    """`interval` cut to `window`; empty intervals come back as (s, s)."""
    s, e = max(interval[0], window[0]), min(interval[1], window[1])
    return (s, max(s, e))


def self_time(span, children):
    """A span's duration minus the part of it its children cover.

    Children may overlap each other (parallel report threads, concurrent
    Spark jobs) and may stick out of the parent; only their union inside the
    parent's interval is subtracted.
    """
    covered = union_length([clip(c, span) for c in children])
    return (span[1] - span[0]) - covered
