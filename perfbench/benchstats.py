"""Arithmetic of the graft benchmark report: medians, tail percentiles,
span self time and the metric table. Pure functions over the raw result
the JVM harness writes; tested by test_benchstats.py.
"""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

LAYERS = ("sources", "functions", "temporal", "ops", "runtime", "streaming")
TAIL_LEVELS = (0.9, 0.99, 0.999)


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def tail(xs):
    """The highest of p90/p99/p99.9 with at least ten samples beyond it, as
    (level, value), or None when there are too few samples for p90."""
    n = len(xs)
    best = None
    for p in TAIL_LEVELS:
        if n * (1 - p) >= 10 - 1e-9:
            best = (p, percentile(xs, p))
    return best


def percentile(xs, p):
    """Linear-interpolated percentile, p in [0, 1]."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def summary(xs):
    """Median, sample count and the tail percentile if one is defined."""
    out = {"median": median(xs), "n": len(xs)}
    t = tail(xs)
    if t:
        out["p%g" % (t[0] * 100)] = t[1]
    return out


def iqr_share(xs):
    """Distance between the first and third quartile over the median."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q3 - q1) / m if m else float("inf")


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_of(name):
    return name.split(".", 1)[0]


def self_times(spans):
    """Per trace: {layer: self seconds} and the pass's root duration and
    child coverage. A span's self time is its duration minus the part of it
    its child spans cover."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    traces = {}
    for s in spans:
        kids = [(c["start_ns"], c["end_ns"]) for c in children.get(s["id"], [])]
        own = (s["end_ns"] - s["start_ns"]) - covered(kids, s["start_ns"], s["end_ns"])
        t = traces.setdefault(s["trace"], {"self": {}, "root_s": None, "coverage": None})
        layer = layer_of(s["name"])
        t["self"][layer] = t["self"].get(layer, 0.0) + own / 1e9
        if s["parent"] not in by_id and s["name"] == "pass":
            dur = s["end_ns"] - s["start_ns"]
            t["root_s"] = dur / 1e9
            t["coverage"] = covered(kids, s["start_ns"], s["end_ns"]) / dur if dur else 0.0
    return {k: v for k, v in traces.items() if v["root_s"] is not None}
