"""The benchmark's own maths: percentiles, medians of per-op samples,
interval self time, and the rule that compares a change with its parent.

Kept free of I/O so that `test_stats.py` can check every function here.
"""
import statistics


def percentile(values, q):
    """Linear-interpolated q-th percentile (0 <= q <= 100) of `values`."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def highest_supported_percentile(n, beyond=10):
    """Highest whole percentile that leaves at least `beyond` of `n`
    samples above it, or None when n <= beyond."""
    if n <= beyond:
        return None
    return int(100 * (n - beyond) / n)


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover.

    `span` is (start, end); children are clipped to the span first."""
    a, b = span
    clipped = [(max(a, c0), min(b, c1)) for c0, c1 in children]
    return (b - a) - union_length(clipped)


def per_key_medians(samples):
    """{key: [values]} -> {key: median}."""
    return {k: statistics.median(v) for k, v in samples.items() if v}


# the spread beyond which an unbounded metric's comparison is unresolved
UNBOUNDED_SPREAD = 0.25


def compare(parent, change, better, bound):
    """Judge one metric of one workload from interleaved runs.

    `parent` and `change` are equal-length lists of values, position i of
    each taken from the i-th pair. Returns a dict with each side's
    quartiles, the change's win fraction over the pairs (ties count for
    neither side) and a verdict:

      - "better": the change wins at least 9/10 of the pairs and the
        medians differ by more than the parent's own interquartile range;
      - "worse": the change's median is worse than the parent's by more
        than `bound` (a share of the parent's median);
      - "unresolved": neither, and the parent's own spread is wider than
        the bound, unless every change run beats every parent run;
      - "same": otherwise.

    A metric with no bound (`bound` None, the wall-clock figures) is never
    "worse", counts as "better" only when every change run beats every
    parent run, and is "unresolved" when the parent's spread exceeds
    UNBOUNDED_SPREAD.
    """
    if len(parent) != len(change) or len(parent) < 2:
        raise ValueError("need at least two pairs of equal length")
    sign = -1.0 if better == "lower" else 1.0
    pq = quartiles(parent)
    cq = quartiles(change)
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    win_fraction = wins / len(parent)
    pmed, cmed = pq[1], cq[1]
    iqr = pq[2] - pq[0]
    rel = (cmed - pmed) / pmed if pmed else 0.0
    worse_by = -sign * rel
    parent_spread = iqr / pmed if pmed else float("inf")
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if bound is None:
        if all_better:
            verdict = "better"
        elif parent_spread > UNBOUNDED_SPREAD:
            verdict = "unresolved"
        else:
            verdict = "same"
    elif win_fraction >= 0.9 and sign * (cmed - pmed) > iqr:
        verdict = "better"
    elif worse_by > bound:
        verdict = "worse"
    elif parent_spread > bound and not all_better:
        verdict = "unresolved"
    else:
        verdict = "same"
    return {"parent": pq, "change": cq, "win_fraction": win_fraction,
            "change_vs_parent": rel, "parent_spread": parent_spread,
            "verdict": verdict}
