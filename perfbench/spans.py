"""Pure helpers for the benchmark's statistics and its outside-in trace.

Intervals are ``(start, end)`` pairs in one clock (microseconds here).
"""
import math


def median(values):
    v = sorted(values)
    if not v:
        return 0.0
    n = len(v)
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2.0


def tail_percentile(values, beyond=10):
    """The highest whole percentile with at least ``beyond`` samples above it.

    Nearest-rank: percentile ``p`` is the sample at rank ``ceil(p/100 * n)``
    and the samples beyond it are the ``n - rank`` after it. Returns
    ``(p, value, n)``; with fewer than ``2 * beyond`` samples no percentile
    from 50 up qualifies and the median is returned as ``p = 50``.
    """
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 50, 0.0, 0
    for p in range(99, 49, -1):
        rank = max(1, math.ceil(p * n / 100.0))
        if n - rank >= beyond:
            return p, v[rank - 1], n
    return 50, median(v), n


def union_length(intervals):
    """Length of the union of intervals: overlapping parts count once."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
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


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover.

    ``spans`` are dicts with ``id``, ``parent``, ``start_us`` and ``end_us``.
    Children that overlap each other are counted once (their union).
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        out[s["id"]] = (hi - lo) - union_length(clip(kids.get(s["id"], []), lo, hi))
    return out
