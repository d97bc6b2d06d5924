"""Order statistics used by the benchmark's reports."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them (the
    'exclusive' method); a single sample is its own quartiles."""
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def percentile(xs, p):
    """The p-th percentile (0..100) by linear interpolation between the
    closest ranks."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else 0.0


def steal_adjusted(seconds, busy, stolen):
    """Wall time with the host's CPU steal taken out: `busy` and `stolen`
    are the machine's busy and stolen CPU jiffies over the same interval,
    and the fraction of wanted CPU time the hypervisor gave to other
    guests is assumed to have slowed the interval by the same share."""
    wanted = busy + stolen
    return seconds * busy / wanted if wanted else seconds
