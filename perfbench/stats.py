"""Arithmetic of the benchmark: percentiles, quartiles, span self time and
the parent-vs-change rule. Pure functions, tested by test_stats.py.
"""
import math
import statistics

TAIL_CANDIDATES = (99, 95, 90, 75, 50)


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def quartiles(xs):
    """(q1, q2, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0])
    return tuple(statistics.quantiles(xs, n=4))


def spread(xs):
    """Interquartile range as a share of the median."""
    q1, _, q3 = quartiles(xs)
    m = median(xs)
    return (q3 - q1) / m if m else float("inf")


def percentile(xs, p):
    """p-th percentile by linear interpolation between closest ranks."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n, min_beyond=10, candidates=TAIL_CANDIDATES):
    """Highest candidate percentile with at least ``min_beyond`` of ``n``
    samples strictly beyond it, or None when even the lowest has fewer."""
    for p in candidates:
        if n * (100 - p) / 100.0 >= min_beyond:
            return p
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the union of its children, each child
    clipped to the span."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def attribute(spans, lo, hi):
    """Splits [lo, hi) among labels: each instant goes to the deepest span
    covering it. ``spans`` holds (start, end, depth, label); overlapping
    spans of equal depth carry the same label in practice, so ties are
    broken by order. The lengths sum to the covered part of [lo, hi)."""
    points = sorted({lo, hi} | {t for s, e, _, _ in spans for t in (s, e) if lo < t < hi})
    out = {}
    for a, b in zip(points, points[1:]):
        active = [sp for sp in spans if sp[0] <= a and sp[1] >= b]
        if active:
            label = max(active, key=lambda sp: sp[2])[3]
            out[label] = out.get(label, 0.0) + (b - a)
    return out


def change_wins(parent, change, better="lower", pairs_needed=9):
    """Parent-vs-change rule over paired runs (same seeds, same order).

    The change wins when it is better in at least ``pairs_needed`` of the
    pairs and its median differs from the parent's by more than the
    parent's interquartile range. Returns (won, wins, gap, parent_iqr).
    """
    if len(parent) != len(change):
        raise ValueError("parent and change need the same number of runs")
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    gap = sign * (median(parent) - median(change))
    q1, _, q3 = quartiles(parent)
    iqr = q3 - q1
    return wins >= pairs_needed and gap > iqr, wins, gap, iqr
