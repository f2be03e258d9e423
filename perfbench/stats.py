"""Summary math for the benchmark: percentiles, geometric mean and self
time of spans."""
import math
import statistics


def median(xs):
    return statistics.median(xs)


def percentile(xs, p):
    """The p-th percentile (0..100) by linear interpolation between the
    closest ranks (the 'inclusive' method of statistics.quantiles)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def supported_percentile(n, tail=10):
    """The highest of p50/p90/p99/p99.9 that has at least `tail` samples
    beyond it in a sample of n, or None when even the median has not."""
    best = None
    for p in (50, 90, 99, 99.9):
        if n * (100 - p) / 100.0 >= tail:
            best = p
    return best


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        s, e = max(a, cur), min(b, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def self_times(spans):
    """Self time summed per layer: each span's duration minus the part of
    it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        d = s["end"] - s["start"]
        own = d - covered(children.get(s["id"], []), s["start"], s["end"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def per_kind_medians(ops, field):
    """Median of ops[field] per operation kind."""
    by = {}
    for o in ops:
        by.setdefault(o["kind"], []).append(o[field])
    return {k: median(v) for k, v in by.items()}
