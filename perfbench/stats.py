"""Percentiles and per-layer self time from recorded spans."""

# a percentile is reported as supported only with at least ten samples
# beyond it: p90 needs 100
MIN_TAIL_SAMPLES = 10


def percentile(values, q):
    """Linear interpolation between closest ranks (q in [0, 1])."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def min_samples(q):
    """Fewest samples for which percentile q has MIN_TAIL_SAMPLES beyond it."""
    return int(round(MIN_TAIL_SAMPLES / (1.0 - q)))


def supported(n, q):
    return n >= min_samples(q)


def median(values):
    return percentile(values, 0.5)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """Sum of each span name's self time: its duration minus the part of its
    interval that its child spans cover. Spans are dicts with id, name,
    start, end, parent (0 = root)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], []) if c["end"] > s["start"] and c["start"] < s["end"])
        out[s["name"]] = out.get(s["name"], 0) + (s["end"] - s["start"]) - covered
    return out
