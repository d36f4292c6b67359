"""Summary statistics and span arithmetic for the benchmark's metrics."""
import math
import statistics

TAIL_LADDER = (50, 75, 90, 95, 99)
TAIL_MIN_BEYOND = 10


def percentile(xs, p):
    """Linear-interpolated p-th percentile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs, ladder=TAIL_LADDER, min_beyond=TAIL_MIN_BEYOND):
    """The highest ladder percentile with at least `min_beyond` samples
    strictly above it, as (percentile, value, samples beyond). With too
    few samples for any rung it falls back to the lowest rung."""
    best = None
    for p in sorted(ladder):
        v = percentile(xs, p)
        beyond = sum(1 for x in xs if x > v)
        if beyond >= min_beyond or best is None:
            best = (p, v, beyond)
    return best


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def per_key_medians(pairs):
    """{key: median of its values} for (key, value) pairs."""
    by = {}
    for k, v in pairs:
        by.setdefault(k, []).append(v)
    return {k: statistics.median(vs) for k, vs in by.items()}


def covered(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (t0, t1) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, -math.inf
    for a, b in clipped:
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    t0, t1 = span
    return (t1 - t0) - covered(children, t0, t1)
