"""Estimators and span arithmetic for the benchmark's report."""

import math


def percentile(xs, q):
    """Nearest-rank percentile: the smallest sample with at least a q share
    of the samples at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def tail_percentile(n, candidates=(0.99, 0.9, 0.75, 0.5), beyond=10):
    """The highest candidate percentile that leaves at least `beyond`
    samples above it in a sample of n, or None."""
    for q in candidates:
        if n - math.ceil(q * n) >= beyond:
            return q
    return None


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
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
    """Each span's duration minus the part of its interval that its
    children cover (children clipped to the parent). Returns {id: self}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = union_length(
            (max(lo, c["start_ns"]), min(hi, c["end_ns"]))
            for c in kids.get(s["id"], []) if c["end_ns"] > lo and c["start_ns"] < hi)
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_self_ms(spans):
    """Self time summed per layer, in ms."""
    st = self_times(spans)
    by = {}
    for s in spans:
        by[s["layer"]] = by.get(s["layer"], 0.0) + st[s["id"]] / 1e6
    return by


def shares(by_layer):
    """Each layer's share of the summed self time. Parallel stages can
    overlap, so the sum, not the wall time, is the base."""
    total = sum(by_layer.values())
    return {k: (v / total if total > 0 else 0.0) for k, v in by_layer.items()}
