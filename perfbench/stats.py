"""Summary statistics the benchmark reports."""

import math
import statistics

# Candidate tail percentiles, highest first, and how many samples must lie
# beyond one before it is reported.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(xs):
    """The highest percentile with at least MIN_BEYOND samples ranked beyond
    it, as (p, value), or None when the run is too short for any."""
    n = len(xs)
    for p in PERCENTILES:
        if n - math.ceil(p / 100 * n) >= MIN_BEYOND:
            return p, percentile(xs, p)
    return None


def tally(ops):
    """(attempted, failed): every operation counts as attempted, and one
    that raised or failed its output check counts as failed too."""
    return len(ops), sum(1 for o in ops if not o["ok"])
