"""Arithmetic of the benchmark's figures: percentiles, span self time,
and attribution of Spark jobs and Catalyst phases to the span that was
open when they started."""
import math


def position(n, p):
    """0-based position of the midpoint (Hazen) p-th percentile among n
    sorted samples: p/100 * n - 0.5, clipped to the samples. Sample i
    stands for the share [i/n, (i+1)/n) of the distribution and sits at
    its middle."""
    return min(max(p * n / 100 - 0.5, 0.0), n - 1.0)


def percentile(values, p):
    """Midpoint percentile, interpolated between neighbours. Its p50 is
    the usual median, and a percentile in the middle of a latency class
    of k samples reads that class's median."""
    s = sorted(values)
    if not s:
        return 0.0
    pos = position(len(s), p)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length of the union of [start, end) intervals clipped to
    [lo, hi)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def depth(span, by_id):
    d = 0
    while span["parent"] is not None and span["parent"] >= 0:
        span = by_id[span["parent"]]
        d += 1
    return d


def attribute(t, spans, by_id=None):
    """Id of the innermost span open at epoch-ms time t, or None.

    Spark stamps events with whole milliseconds (truncated), so a span
    counts as open from the floor of its start. Among nested candidates
    the deepest wins; among siblings sharing a millisecond, the later
    start wins, since the earlier one has already ended."""
    by_id = by_id or {s["id"]: s for s in spans}
    best = None
    for s in spans:
        if math.floor(s["start"]) <= t <= s["end"]:
            k = (depth(s, by_id), s["start"])
            if best is None or k > best[0]:
                best = (k, s["id"])
    return None if best is None else best[1]


def self_times(spans, extra_children=()):
    """Self time per span id: duration minus the part of it covered by
    its child spans and by attributed intervals (`extra_children` holds
    (parent id, start, end))."""
    kids = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] >= 0:
            kids[s["parent"]].append((s["start"], s["end"]))
    for pid, st, en in extra_children:
        if pid in kids:
            kids[pid].append((st, en))
    return {s["id"]: (s["end"] - s["start"]) - union_length(kids[s["id"]], s["start"], s["end"])
            for s in spans}


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 0.0
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2
