"""Statistics and span arithmetic for the benchmark (pure Python)."""

import statistics


def median(xs):
    return statistics.median(xs)


def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default, type 7), q in [0, 1]."""
    s = sorted(xs)
    if not s:
        raise ValueError("quantile of no samples")
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def spread(xs):
    """Interquartile distance as a share of the median, with quartiles as
    statistics.quantiles(xs, n=4) gives them."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
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
    """Self time of each span: its duration minus the part of its interval
    that its children cover. spans: dicts with id, parent, start_ns, end_ns.
    Returns {id: self_ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        covered = union_length(
            (max(c["start_ns"], a), min(c["end_ns"], b))
            for c in children.get(s["id"], [])
            if c["end_ns"] > a and c["start_ns"] < b)
        out[s["id"]] = (b - a) - covered
    return out


def self_time_by_name(spans):
    """{span name: [self ns of each span with that name]}."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out.setdefault(s["name"], []).append(st[s["id"]])
    return out
