"""Span arithmetic of the traced run.

A span is a dict with id, parent (0 for a root), layer, name, start_ns and
end_ns. Its self time is its duration minus the part of its interval that
its child spans cover; overlapping children count once.
"""
from collections import defaultdict


def covered(lo, hi, intervals):
    """Length of the part of [lo, hi] that the union of intervals covers."""
    total, cur = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans):
    """{span id: self time in ns}."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"]) -
            covered(s["start_ns"], s["end_ns"], children[s["id"]])
            for s in spans}


def self_by_layer(spans):
    """{layer: summed self time in seconds}."""
    st = self_times(spans)
    out = defaultdict(float)
    for s in spans:
        out[s["layer"]] += st[s["id"]] / 1e9
    return dict(out)


def durations(spans, layer, name):
    """Durations in seconds of the spans with this layer and name."""
    return [(s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
            if s["layer"] == layer and s["name"] == name]
