"""Summary statistics of per-item samples and host noise readings."""
import math
import statistics

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)
MIN_BEYOND = 10


def nearest_rank(sorted_values, p):
    """The nearest-rank p-th percentile and its 1-based rank."""
    n = len(sorted_values)
    # rounding guards binary fractions such as 99.9 / 100 * 10000
    rank = max(1, math.ceil(round(p * n / 100.0, 9)))
    return sorted_values[rank - 1], rank


def tail(values):
    """The highest percentile of the ladder that still has at least ten
    samples beyond it: (percentile, value, samples beyond). When no ladder
    percentile qualifies (fewer than twenty samples) the maximum is given
    as percentile 100 with nothing beyond."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    for p in TAIL_LADDER:
        v, rank = nearest_rank(s, p)
        if len(s) - rank >= MIN_BEYOND:
            return p, v, len(s) - rank
    return 100.0, s[-1], 0


def median(values):
    return statistics.median(values)


def read_cpu():
    """(steal jiffies, total jiffies) from the aggregate cpu line."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted in user/nice
    return steal, sum(vals[:8])


def steal_pct(before, after):
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
