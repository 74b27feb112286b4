"""Statistics the benchmark reports and the steadiness check uses.

Kept free of I/O so `test_stats.py` can pin each rule down.
"""
import statistics

# A tail percentile is only reported where at least this many samples
# lie beyond it.
TAIL_BEYOND = 10


def median(xs):
    """Median of a non-empty sequence (mean of the middle pair if even)."""
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def tail(xs, beyond=TAIL_BEYOND):
    """The highest nearest-rank percentile with `beyond` samples above it.

    For n sorted samples that is the (n - beyond)-th smallest, i.e. the
    100 * (n - beyond) / n percentile. Returns (value, percentile, n).
    With n <= beyond no percentile qualifies: the maximum is returned
    with percentile 100 so the caller can see the tail is unsupported.
    """
    if not xs:
        raise ValueError("tail of no samples")
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return s[-1], 100.0, n
    k = n - beyond
    return s[k - 1], 100.0 * k / n, n


def spread(xs):
    """Inter-quartile range as a share of the median, with the
    quartiles `statistics.quantiles(xs, n=4)` gives."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


def worse_by(before, after, better):
    """How much worse `after` is than `before`, as a share of `before`
    (negative when it improved). `better` is "lower" or "higher"."""
    if better == "lower":
        return (after - before) / before
    if better == "higher":
        return (before - after) / before
    raise ValueError(f"better must be lower or higher, not {better!r}")


def within_bound(before, after, better, bound):
    """The regression rule between two sets of runs: `after` may be
    worse than `before` by at most `bound` (a share of `before`)."""
    return worse_by(before, after, better) <= bound
