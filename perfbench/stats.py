"""Summary statistics for benchmark samples."""

import statistics


def median(values):
    return statistics.median(values)


def tail_percentile(values, beyond=10):
    """The highest percentile that still has at least `beyond` samples above
    it, as (percentile, value) by nearest rank, or None when the sample has
    `beyond` or fewer values."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None
    rank = n - beyond  # 1-based rank; `beyond` samples lie above it
    return (100.0 * rank / n, xs[rank - 1])


def summary(values):
    """Median, sample count and tail percentile of a timing sample."""
    out = {"median": median(values), "n": len(values)}
    tail = tail_percentile(values)
    if tail is not None:
        out["p%g" % round(tail[0], 1)] = tail[1]
    return out
