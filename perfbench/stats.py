"""Sample statistics and span arithmetic for the benchmark's reports."""

import math
import statistics

# tail percentiles considered, highest first
TAILS = (99, 95, 90, 80, 50)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def kind_p50_geomean(samples):
    """Geometric mean, over the operation kinds of `samples` (dicts with
    `kind` and `wall_s`), of each kind's median latency: every kind
    counts once, however often the mix sends it.
    """
    walls = {}
    for x in samples:
        walls.setdefault(x["kind"], []).append(x["wall_s"])
    if not walls:
        return 0.0
    return math.exp(sum(math.log(median(v)) for v in walls.values()) / len(walls))


def quantile(xs, q):
    """Linear-interpolated quantile, 0 <= q <= 1, of a non-empty sample."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n, beyond=10):
    """The highest of TAILS with at least `beyond` of `n` samples above it,
    or None when even the median has fewer.
    """
    for p in TAILS:
        if n * (100 - p) / 100.0 >= beyond:
            return p
    return None


def children_of(spans):
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    return kids


def self_times(spans):
    """Span id -> its wall time minus the wall time of its direct
    children. Child spans run inside their parent on the one client
    thread, so they never overlap each other.
    """
    kids = children_of(spans)
    return {s["id"]: s["wall_s"] - sum(c["wall_s"] for c in kids.get(s["id"], []))
            for s in spans}


def inclusive(spans, field):
    """Span id -> `field` summed over the span and all its descendants
    (the listener attributes Spark work to the innermost span only).
    """
    kids = children_of(spans)

    def total(s):
        return s[field] + sum(total(c) for c in kids.get(s["id"], []))

    return {s["id"]: total(s) for s in spans}


def coverage(spans, root_id):
    """Share of a root span's wall time that its child spans account for:
    one minus the root's self time over its wall time.
    """
    root = next(s for s in spans if s["id"] == root_id)
    if root["wall_s"] <= 0:
        return 0.0
    return 1.0 - self_times(spans)[root_id] / root["wall_s"]
