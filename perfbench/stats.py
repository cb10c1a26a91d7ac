"""Summary statistics the benchmark reports."""

TAIL_BEYOND = 10


def tail(values):
    """The highest percentile with at least TAIL_BEYOND samples beyond it.

    Returns `(value, percentile, samples)`. The value is the largest sample
    that still has TAIL_BEYOND samples above it, so the percentile is
    100 * (n - TAIL_BEYOND) / n. With TAIL_BEYOND or fewer samples no
    percentile qualifies, and the maximum is reported as percentile 100.
    """
    s = sorted(values)
    n = len(s)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0, n
    return s[n - 1 - TAIL_BEYOND], 100.0 * (n - TAIL_BEYOND) / n, n

