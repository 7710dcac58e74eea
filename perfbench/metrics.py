"""Metric arithmetic over one run's raw record. Pure functions, no I/O."""

import bisect
import math

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    return v[rank(len(v), p) - 1]


def rank(n, p):
    """1-based nearest rank of the p-th percentile of n samples; the
    product is rounded first so that 99.9% of 10000 is exactly 9990."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def beyond(n, p):
    """Samples strictly beyond the nearest-rank p-th percentile of n."""
    return n - rank(n, p)


def tail_percentile(n, min_beyond=10):
    """The highest percentile of the ladder that leaves at least
    `min_beyond` samples beyond it, or None if even the median does not."""
    for p in TAIL_LADDER:
        if beyond(n, p) >= min_beyond:
            return p
    return None


def tail(values, min_beyond=10):
    """(percentile, value) of the tail by the rule above; with too few
    samples for any rung, the maximum is reported as percentile 100."""
    p = tail_percentile(len(values), min_beyond)
    if p is None:
        return 100.0, max(values)
    return p, percentile(values, p)


def covered(intervals, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= reach:
            continue
        total += e - max(s, reach)
        reach = e
    return total


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover.
    A span is a dict with id, parent, start and end."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def due_latencies(blocks, alerts):
    """Latency of each alert from the due time of the block that carried
    its tick. blocks: (offset, due_ms, added_ms, first_tick, rows), in
    replay order; alerts: (tick_index, received_ms). Alerts on ticks
    outside every block (the warm-up) are skipped."""
    firsts = [b[3] for b in blocks]
    out = []
    for idx, recv in alerts:
        i = bisect.bisect_right(firsts, idx) - 1
        if i >= 0 and idx < blocks[i][3] + blocks[i][4]:
            out.append(recv - blocks[i][1])
    return out


def backlog(blocks, triggers):
    """Rows appended but not yet committed, at each trigger start.
    blocks: (offset, due_ms, added_ms, first_tick, rows); triggers:
    (start_ms, end offset of the last committed batch)."""
    out = []
    for start, end_offset in triggers:
        out.append(sum(b[4] for b in blocks if b[2] <= start and b[0] > end_offset))
    return out


def lateness(blocks):
    """How late the generator appended each block against its due time."""
    return [max(0.0, b[2] - b[1]) for b in blocks]
