"""Statistics the benchmark reports: medians, the tail-percentile rule,
quartile spreads and drift."""
import math
import statistics

STANDARD_PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def rank(pct, n):
    """1-based nearest rank of the `pct` percentile among `n` samples."""
    # the epsilon keeps float error (0.999 * 10000 = 9990.000000000002)
    # from pushing an exact rank up by one
    return max(1, math.ceil(pct / 100.0 * n - 1e-9))


def nearest_rank(samples, pct):
    """The nearest-rank `pct` percentile of `samples`."""
    xs = sorted(samples)
    return xs[rank(pct, len(xs)) - 1]


def tail_percentile(samples):
    """The highest standard percentile with at least ten samples beyond it,
    as (percentile, value); (0, 0.0) when even the median has fewer."""
    n = len(samples)
    best = 0
    for p in STANDARD_PERCENTILES:
        beyond = n - rank(p, n)
        if beyond >= 10:
            best = p
    return (best, nearest_rank(samples, best)) if best else (0, 0.0)


def drift(samples):
    """Median of the second half of the samples (in the order they were
    taken) divided by the median of the first half; 1.0 means no trend."""
    if len(samples) < 2:
        return 0.0
    half = len(samples) // 2
    first = statistics.median(samples[:half])
    second = statistics.median(samples[len(samples) - half:])
    return second / first if first else 0.0


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) as the acceptance check takes
    them: `statistics.quantiles(values, n=4)`."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, ((q3 - q1) / med) if med else float("inf")
