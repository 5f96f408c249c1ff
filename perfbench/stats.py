"""Summary statistics for the benchmark report."""
import math
import statistics

MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    sample at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    v = sorted(values)
    return v[max(0, math.ceil(p / 100 * len(v)) - 1)]


def beyond(n, p):
    """How many of n samples lie above the p-th nearest-rank percentile."""
    return n - max(1, math.ceil(p / 100 * n)) if n else 0


def supported(n, p):
    """A percentile is reported only with at least MIN_BEYOND samples
    beyond it."""
    return beyond(n, p) >= MIN_BEYOND


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median (`statistics.quantiles(values, n=4)`)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. `spans` are dicts with id, parent, start_ms, end_ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start_ms"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], reach), min(c["end_ms"], s["end_ms"])
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def layer_means(spans):
    """Per span name: mean over the ops that entered it of the op's total
    self time under that name."""
    selfs = self_times(spans)
    per = {}
    for s in spans:
        per.setdefault(s["name"], {}).setdefault(s["op"], 0.0)
        per[s["name"]][s["op"]] += selfs[s["id"]]
    return {name: sum(ops.values()) / len(ops) for name, ops in per.items()}
