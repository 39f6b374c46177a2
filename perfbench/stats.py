"""Arithmetic the benchmark reports with: percentiles, interval unions and
per-layer self time from a span tree. Pure functions, covered by
tests/test_harness.py."""
import math


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample such that at least p
    percent of the samples are less than or equal to it (p in (0, 100])."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(p / 100.0 * len(ordered)) - 1)]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_start = cur_end = None
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        elif b > cur_end:
            cur_end = b
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """Self time of each finished span: its duration minus the part of its
    interval covered by its direct children, each clipped to the parent.
    `spans` are dicts with id, parent, start_ns and end_ns (-1 = open).
    Returns {span id: self ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["end_ns"] < 0:
            continue
        covered = union_length(
            (max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
            for c in children.get(s["id"], []) if c["end_ns"] >= 0)
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
    return out


def self_time_by_layer(spans):
    """Self seconds summed per layer name."""
    by_id = self_times(spans)
    out = {}
    for s in spans:
        if s["id"] in by_id:
            out[s["layer"]] = out.get(s["layer"], 0.0) + by_id[s["id"]] / 1e9
    return out


def subtree_ids(spans, root_id):
    """Ids of the span `root_id` and all its descendants."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(children.get(i, []))
    return out


def enclosing_span(spans, t):
    """Id of the innermost finished span whose interval holds time t: of
    all that hold it, the one that started last. 0 if none does."""
    best = None
    for s in spans:
        if s["end_ns"] >= 0 and s["start_ns"] <= t <= s["end_ns"]:
            if best is None or s["start_ns"] > best["start_ns"]:
                best = s
    return best["id"] if best else 0


def counters_by_span(spans, jobs):
    """Spark job counters summed per span, each job billed to the span
    that encloses its start (enclosing_span). `jobs` are dicts with
    start_ns, end_ns and counters. Returns {span id: {counter: sum}}."""
    out = {}
    for j in jobs:
        row = out.setdefault(enclosing_span(spans, j["start_ns"]), {})
        for k, x in j.items():
            if k not in ("start_ns", "end_ns"):
                row[k] = row.get(k, 0) + x
    return out
