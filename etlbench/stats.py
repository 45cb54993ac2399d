"""Summary statistics and the one JSON writer the benchmark prints through."""
import json
import statistics

# Percentiles a tail is reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values):
    return statistics.median(values) if values else None


def nearest_rank(sorted_values, p):
    """1-based nearest rank of percentile `p` in `n` sorted samples."""
    # p * n / 100 in exact integer steps of 0.1 percentile: float
    # rounding must not push 99.9% of 10000 past rank 9990
    return max(1, -(-round(p * 10) * len(sorted_values) // 1000))


def tail(values, beyond=10):
    """The highest percentile of TAIL_LADDER that has at least `beyond`
    samples above it, as (percentile, value); (None, None) when even
    the median has fewer."""
    s = sorted(values)
    for p in TAIL_LADDER:
        rank = nearest_rank(s, p)
        if len(s) - rank >= beyond:
            return p, s[rank - 1]
    return None, None


def fail_ratio(attempted, failed):
    """Failed ops over attempted ops; an op that raised and an op whose
    output missed the oracle are both failures."""
    if attempted <= 0:
        raise ValueError("no operation was attempted")
    return failed / attempted


class Ops:
    """Counts operations and the ways they fail."""

    def __init__(self):
        self.attempted = 0
        self.errors = 0
        self.mismatches = 0

    def add(self, n, errors=0, mismatches=0):
        self.attempted += n
        self.errors += errors
        self.mismatches += mismatches

    @property
    def failed(self):
        return min(self.attempted, self.errors + self.mismatches)


def dumps(obj):
    """The only JSON encoder used for output; rejects NaN/Infinity."""
    return json.dumps(obj, sort_keys=False, allow_nan=False)


def result_line(correct, ops, metrics):
    """The contract's last stdout line. `metrics` maps name to
    (value, unit)."""
    return dumps({
        "correct": bool(correct),
        "attempted": int(ops.attempted),
        "failed": int(ops.failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })
