"""The benchmark's own arithmetic: percentiles, span self time, failure
fraction and run-to-run spread. Pure functions, tested in
tests/test_stats.py."""
import math
import statistics

# A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank q-quantile (0 < q < 1) of `values`."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    rank = max(1, math.ceil(q * len(s)))
    return s[rank - 1]


def harrell_davis(values, q):
    """Harrell-Davis estimate of the q-quantile: a weighted mean of every
    order statistic, the i-th weighted by the Beta((n+1)q, (n+1)(1-q))
    mass on [(i-1)/n, i/n]. Over a few dozen unequal op latencies it moves
    smoothly where the plain median jumps from one op to its neighbour.
    Falls back to the nearest rank when a Beta parameter is below 1."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    if n == 1 or min(a, b) < 1:
        return percentile(s, q)
    log_norm = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def pdf(x):
        if x <= 0.0 or x >= 1.0:
            return 0.0 if (x <= 0.0 and a > 1) or (x >= 1.0 and b > 1) \
                else math.exp(-log_norm)
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x)
                        - log_norm)

    steps = 64  # Simpson subintervals per order statistic
    weights = []
    for i in range(n):
        lo, h = i / n, 1 / (n * steps)
        acc = pdf(lo) + pdf(lo + steps * h)
        for j in range(1, steps):
            acc += (4 if j % 2 else 2) * pdf(lo + j * h)
        weights.append(acc * h / 3)
    return sum(w * v for w, v in zip(weights, s)) / sum(weights)


def samples_beyond(n, q):
    """How many of n samples lie strictly beyond the q-quantile's rank."""
    return n - max(1, math.ceil(q * n))


def reportable(n, q):
    """True when the q-quantile of n samples has MIN_BEYOND samples
    beyond it. The median is always reported."""
    return (q <= 0.5 and n > 0) or samples_beyond(n, q) >= MIN_BEYOND


def tail(values, q):
    """(Harrell-Davis q-quantile, n), or (None, n) when too few samples lie
    beyond the q-quantile's rank to report it."""
    n = len(values)
    if n == 0 or not reportable(n, q):
        return None, n
    return harrell_davis(values, q), n


def median(values):
    return statistics.median(values)


def failed_frac(attempted, failed):
    """Failed ops over attempted ops. Every op that was started counts as
    attempted, whether it threw, mismatched or passed."""
    if attempted <= 0:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed ops outside 0..attempted")
    return failed / attempted


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals, counting
    overlapping stretches once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover. Child
    intervals are clipped to the parent and may overlap each other."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, as statistics.quantiles(values, n=4) gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
