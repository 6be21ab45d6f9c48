"""Summary statistics shared by run.py and steady.py."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """The highest percentile with at least ten samples beyond it, by
    nearest rank: the 11th-largest sample, at percentile 100 * (n - 10) / n.
    None when that percentile would fall below the median (n < 20).
    Returns (value, percentile, n)."""
    n = len(xs)
    if n < 20:
        return None
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n, n


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) with Python's default quartiles."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return m, q1, q3, (q3 - q1) / m if m else float("inf")
