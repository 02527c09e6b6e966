"""Summary statistics for timing samples."""


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail(xs, beyond=10):
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, sample_count)``: the value is the sorted
    sample with exactly ``beyond`` samples after it, at percentile
    ``100 * (n - beyond) / n``; None when there are not more than
    ``beyond`` samples.
    """
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    return s[n - beyond - 1], 100.0 * (n - beyond) / n, n
