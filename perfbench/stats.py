"""Pure helpers that turn the harness's samples into metrics."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=10, floor=50):
    """The highest whole percentile that still has `beyond` samples above
    it (nearest-rank), never below the `floor` percentile.

    Returns (percentile, value, n). With fewer than 2 * beyond + 1
    samples the rule cannot reach the median; the floor percentile is
    reported instead, and the caller prints the percentile it got.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return floor, 0.0, 0
    for p in range(99, floor - 1, -1):
        i = max(0, math.ceil(p / 100 * n) - 1)
        if n - 1 - i >= beyond:
            return p, xs[i], n
    i = max(0, math.ceil(floor / 100 * n) - 1)
    return floor, xs[i], n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by [start, end] intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans, jobs):
    """Self time per span name: a span's duration minus the part of it
    covered by its child spans (by `parent` id) or by the jobs of its
    op."""
    out = {}
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    for sp in spans:
        op_jobs = [(j["start"], j["end"]) for j in jobs.get(sp["op"], []) if j["end"] > 0]
        covered = union_length(kids.get(sp["id"], []) + op_jobs, sp["start"], sp["end"])
        key = sp["name"]
        out[key] = out.get(key, 0.0) + (sp["end"] - sp["start"]) - covered
    return out
