"""Statistics shared by the benchmark's report: medians, the tail
percentile rule, and span self times."""
import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# strictly beyond it; below that it is noise.
TAIL_MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else None


def percentile(values, q):
    """Nearest-rank q-th percentile (0 < q <= 100), or None when fewer
    than TAIL_MIN_BEYOND samples lie beyond it."""
    if not values:
        return None
    s = sorted(values)
    idx = max(0, math.ceil(q / 100.0 * len(s)) - 1)
    beyond = sum(1 for v in s if v > s[idx])
    return s[idx] if beyond >= TAIL_MIN_BEYOND else None


def highest_tail(values, candidates=(99.9, 99, 90, 75)):
    """The highest percentile that has enough samples beyond it, as
    (q, value), or None."""
    for q in candidates:
        v = percentile(values, q)
        if v is not None:
            return q, v
    return None


def self_times(spans):
    """Self time of each span in seconds: its duration minus the part of
    it that its direct children cover. Children of one parent run on
    the parent's thread, one after another, so their durations add."""
    child = {}
    for s in spans:
        if s["parent"]:
            child[s["parent"]] = child.get(s["parent"], 0) + (s["end_ns"] - s["start_ns"])
    return {s["id"]: (s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)) / 1e9
            for s in spans}


def self_by_name(spans):
    """Σ self time per span name, in seconds."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out

