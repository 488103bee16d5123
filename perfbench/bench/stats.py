"""The benchmark's statistics: medians, the percentile rule, quartile
spreads, span self time and job-to-span attribution. Pure functions over
plain lists and dicts, so each rule is unit-tested on its own."""
import math
import statistics


def median(values):
    return statistics.median(values) if values else None


def percentile_rule(values, max_pct=95, min_beyond=10):
    """The highest whole percentile p <= max_pct that leaves at least
    `min_beyond` samples strictly beyond its nearest-rank value.

    Returns (p, value, n, beyond); p and value are None when no percentile
    qualifies (fewer than min_beyond samples above the median). Ties at the
    percentile value do not count as beyond it."""
    xs = sorted(values)
    n = len(xs)
    for p in range(max_pct, 49, -1):
        rank = max(math.ceil(p * n / 100.0), 1)
        if rank > n:
            continue
        v = xs[rank - 1]
        beyond = sum(1 for x in xs if x > v)
        if beyond >= min_beyond:
            return p, v, n, beyond
    return None, None, n, 0


def nearest_rank(values, pct):
    """Nearest-rank percentile (pct in 0..100] of a non-empty list."""
    xs = sorted(values)
    rank = max(math.ceil(pct * len(xs) / 100.0), 1)
    return xs[min(rank, len(xs)) - 1]


def quartile_spread(values):
    """(q1, median, q3, (q3 - q1) / median), quartiles as
    statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals; overlapping
    parts count once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
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
    """span id -> duration minus the part of it covered by its children
    (children clipped to the parent; overlapping children count once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


def ancestors(spans):
    """span id -> list of span ids from itself up to its top-level span."""
    parent = {s["id"]: s["parent"] for s in spans}
    out = {}
    for sid in parent:
        chain, cur = [], sid
        while cur and cur in parent and cur not in chain:
            chain.append(cur)
            cur = parent[cur]
        out[sid] = chain
    return out


def attribute_jobs(jobs, spans):
    """job id -> (span id, top-level span id) through the span id each job
    carries as a local property; (None, None) for jobs launched outside any
    benchmark span (for example by the HTTP server's own threads)."""
    chain = ancestors(spans)
    out = {}
    for j in jobs:
        sid = int(j["span"]) if str(j.get("span", "")).isdigit() else None
        if sid is None or sid not in chain:
            out[j["id"]] = (None, None)
        else:
            out[j["id"]] = (sid, chain[sid][-1])
    return out


def job_overhead(job, tasks):
    """A job's wall time not covered by any of its tasks' run intervals."""
    wall = job["end"] - job["start"]
    busy = union_length([(max(t["launch"], job["start"]), min(t["finish"], job["end"]))
                         for t in tasks])
    return wall - busy
