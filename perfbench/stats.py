"""Statistics the benchmark reports: median, quartiles, the tail
percentile with enough samples beyond it, and span self time."""
import statistics
from collections import defaultdict


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """First and third quartile, as `statistics.quantiles(xs, n=4)` gives
    them (its default, exclusive method). One sample is its own
    quartiles."""
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, q3 = quartiles(xs)
    return (q3 - q1) / median(xs)


def tail(xs, beyond=10):
    """The highest percentile of `xs` that has at least `beyond` samples
    ranked above it: (value, percentile, samples above).

    With n samples that is the order statistic of rank n - beyond, i.e.
    percentile 100 * (n - beyond) / n. With `beyond` or fewer samples no
    percentile qualifies; the maximum is returned with percentile 100 and
    0 samples above, so the output says the tail is not resolved."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return s[-1], 100.0, 0
    k = n - beyond
    return s[k - 1], 100.0 * k / n, n - k


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover (children clipped to the parent, and
    overlapping children counted once). `spans` are dicts with `id`,
    `parent`, `start_ms`, `end_ms`; returns {id: self_ms}."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = union_length(
            (max(c["start_ms"], lo), min(c["end_ms"], hi)) for c in kids[s["id"]])
        out[s["id"]] = (hi - lo) - covered
    return out


def coverage(span, spans):
    """Share of `span`'s duration that its direct children cover."""
    dur = span["end_ms"] - span["start_ms"]
    if dur <= 0:
        return 1.0
    return 1.0 - self_times([span] + [c for c in spans if c["parent"] == span["id"]])[span["id"]] / dur
