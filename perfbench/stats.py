"""Order statistics for the benchmark's samples.

The median averages the two middle values of an even count. Quartiles use
the exclusive method (the default of Python's `statistics.quantiles`).
"""


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def quartiles(xs):
    """(q1, q2, q3) by the exclusive method; needs at least two samples."""
    s = sorted(xs)
    n = len(s)
    if n < 2:
        raise ValueError("quartiles need at least two samples")
    m = n + 1
    out = []
    for i in (1, 2, 3):
        j = min(max(i * m // 4, 1), n - 1)
        delta = i * m - j * 4
        out.append((s[j - 1] * (4 - delta) + s[j] * delta) / 4)
    return tuple(out)


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, _, q3 = quartiles(xs)
    return (q3 - q1) / median(xs)
