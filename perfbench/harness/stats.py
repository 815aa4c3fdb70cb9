"""Order statistics, the only copy of them in the benchmark: the JVM half
hands back raw samples and repetitions. Percentiles interpolate between
closest ranks, the `inclusive` method of `statistics.quantiles`."""
import statistics


def percentile(xs, p):
    if not xs:
        raise ValueError("percentile of an empty sample")
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return percentile(xs, 50)


def spread(values):
    """(median, first quartile, third quartile, IQR as a share of the
    median), with the quartiles as `statistics.quantiles(values, n=4)`
    gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def interpolate(samples, t):
    """Value at time t of a series of (time, value) samples, linear
    between neighbours and clamped at the ends."""
    if t <= samples[0][0]:
        return samples[0][1]
    for (t0, v0), (t1, v1) in zip(samples, samples[1:]):
        if t <= t1:
            return v0 + (v1 - v0) * (t - t0) / (t1 - t0) if t1 > t0 else v1
    return samples[-1][1]
