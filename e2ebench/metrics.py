"""Pure helpers that turn a run's raw record into metrics.

No I/O and no Spark here, so `test_metrics.py` can check each rule on
hand-made inputs.
"""

import math
import statistics

BEYOND = 10  # samples that must lie beyond any reported percentile


def min_samples(q):
    """Fewest samples for which percentile q (0 < q < 1) has BEYOND samples above it."""
    return math.ceil(BEYOND / (1.0 - q) - 1e-9)


def percentile(values, q):
    """Nearest-rank percentile q of values.

    Raises ValueError unless at least BEYOND samples lie strictly above
    the reported rank, so a tail figure always rests on a tail.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(q * n))  # 1-based
    if n - rank < BEYOND:
        raise ValueError(f"p{q * 100:g} of {n} samples has only {n - rank} beyond it; "
                         f"needs {BEYOND} (at least {min_samples(q)} samples)")
    return xs[rank - 1]


def median(values):
    return statistics.median(values) if values else 0.0


def open_loop(requests):
    """Latency accounting of an open loop.

    requests: (due_ns, pickup_ns, done_ns) per request. A request is
    timed from when it was due, not from when the loop got to it, so a
    stall counts against every request that waited behind it.
    Returns (latency_ms, queue_ms) lists.
    """
    lat = [(done - due) / 1e6 for due, _, done in requests]
    queue = [(pickup - due) / 1e6 for due, pickup, _ in requests]
    return lat, queue


def lateness(wakes):
    """How late the generator woke for requests it was idle waiting for.

    wakes: (target_ns, woke_ns) pairs. Returns ms per wake, floored at 0.
    """
    return [max(0.0, (woke - target) / 1e6) for target, woke in wakes]


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


def clip(intervals, lo, hi):
    """Intervals cut to the window [lo, hi]; those outside it dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans):
    """Self time per span name, in the spans' own unit.

    spans: dicts with name, start_ns, end_ns and parent (index into the
    list, -1 for none). A span's self time is its duration minus the
    part of it that its direct children cover.
    """
    children = {}
    for i, sp in enumerate(spans):
        if sp["parent"] >= 0:
            children.setdefault(sp["parent"], []).append((sp["start_ns"], sp["end_ns"]))
    out = {}
    for i, sp in enumerate(spans):
        s, e = sp["start_ns"], sp["end_ns"]
        covered = union_length(clip(children.get(i, []), s, e))
        out[sp["name"]] = out.get(sp["name"], 0) + (e - s) - covered
    return out

