"""Pure helpers shared by the benchmark scripts: medians and quartiles, the
tail-percentile rule, and span self-time arithmetic."""
import math
import statistics


def median(values):
    return statistics.median(values) if values else None


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        v = values[0] if values else None
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else None


def tail_percentile(samples, beyond=10):
    """The highest whole percentile P (1..99) that has at least `beyond`
    samples above it, by the nearest-rank rule: the value is the
    ceil(P/100 * n)-th smallest sample and the samples beyond it are the
    n - ceil(P/100 * n) larger ranks. Returns (P, value, n), or None when
    fewer than `beyond` + 1 samples exist."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= beyond:
            return p, xs[rank - 1], n
    return None


def covered(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Map span id -> self time: its duration minus the part of its interval
    covered by its direct children (clipped to the parent's interval)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        child = [(max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                 for c in kids.get(s["id"], [])]
        child = [(a, b) for a, b in child if b > a]
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered(child)
    return out


def layer_self_seconds(spans, by_name_layers=("call", "prefix")):
    """Self time in seconds per layer, summed over the run. Spans of the
    layers in `by_name_layers` are further split by span name, as
    `layer:name`."""
    st = self_times(spans)
    out = {}
    for s in spans:
        key = s["layer"]
        if key in by_name_layers:
            key = f"{key}:{s['name']}"
        out[key] = out.get(key, 0.0) + st[s["id"]] / 1e9
    return out
