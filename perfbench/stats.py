"""Statistics the benchmark reports, kept apart so they can be tested."""

import math


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail(xs, beyond=10):
    """The highest whole percentile that still has at least `beyond`
    samples above it, and its nearest-rank value.

    With n samples, percentile p takes the sample at rank ceil(p*n/100);
    n - rank samples lie beyond it. Returns (p, value), or None when
    fewer than beyond + 1 samples exist.
    """
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    while p > 0 and n - math.ceil(p * n / 100.0) < beyond:
        p -= 1
    rank = max(1, math.ceil(p * n / 100.0))
    return p, s[rank - 1]


def failed_fraction(attempted, failed_ops, failed_checks):
    """Failed operations over attempted ones; a failed output check
    counts as one more failure, capped at the number attempted."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    return min(attempted, failed_ops + failed_checks) / float(attempted)


def space_amp(store_bytes, base_bytes):
    """Bytes on disk per byte of the data they represent."""
    if base_bytes <= 0:
        raise ValueError("no base bytes")
    return store_bytes / float(base_bytes)
