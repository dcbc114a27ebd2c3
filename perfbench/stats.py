"""Statistics helpers of the benchmark: percentiles and span self time."""
import math

MIN_BEYOND = 10


def rank(n, p):
    """1-based nearest rank of percentile `p` (0-100) among `n` samples."""
    return min(n, max(1, math.ceil(round(p * n / 100.0, 9))))


def pct(values, p):
    """Nearest-rank percentile `p` of a non-empty sample."""
    return sorted(values)[rank(len(values), p) - 1]


def beyond(n, p):
    """How many of `n` samples lie beyond the nearest-rank percentile `p`."""
    return n - rank(n, p)


def tail_percentile(n, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least MIN_BEYOND samples
    beyond it, or None when even the median has fewer."""
    for p in candidates:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def median(values):
    s = sorted(values)
    n = len(s)
    return (s[(n - 1) // 2] + s[n // 2]) / 2.0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
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


def nest(spans):
    """Parent index of every span: the innermost span with the same request
    id whose interval contains it (None for a root). `spans` are dicts with
    start, end and req; on equal intervals the earlier span is the parent."""
    parent = [None] * len(spans)
    by_req = {}
    for i, sp in enumerate(spans):
        by_req.setdefault(sp["req"], []).append(i)
    for idx in by_req.values():
        idx.sort(key=lambda i: (spans[i]["start"], -spans[i]["end"], i))
        stack = []
        for i in idx:
            while stack and spans[stack[-1]]["end"] < spans[i]["end"]:
                stack.pop()
            parent[i] = stack[-1] if stack else None
            stack.append(i)
    return parent


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its child spans cover (children may overlap each other)."""
    parent = nest(spans)
    children = [[] for _ in spans]
    for i, p in enumerate(parent):
        if p is not None:
            children[p].append(i)
    out = []
    for i, sp in enumerate(spans):
        covered = union_length(
            (max(sp["start"], spans[c]["start"]), min(sp["end"], spans[c]["end"]))
            for c in children[i])
        out.append(sp["end"] - sp["start"] - covered)
    return out


def layer_self_times(spans):
    """Sum of self time per layer."""
    out = {}
    for sp, t in zip(spans, self_times(spans)):
        out[sp["layer"]] = out.get(sp["layer"], 0) + t
    return out
