"""Pure statistics of the benchmark: percentiles, geometric means,
interval unions, span self time, job-to-op attribution and failure
counting. No I/O; tested by test_stats.py.
"""
import bisect
import math

# tail percentiles considered, highest first; a run reports the highest
# one that still has at least TAIL_SAMPLES samples beyond it
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0)
TAIL_SAMPLES = 10


def quantile(values, p):
    """Linear-interpolated p-th percentile (0..100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return quantile(values, 50.0)


def geomean(values):
    """Geometric mean of a non-empty list of positive numbers."""
    if not values:
        raise ValueError("geomean of no values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(n):
    """Highest percentile of TAIL_LADDER with at least TAIL_SAMPLES of n
    samples beyond it, or None when even p90 has fewer."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= TAIL_SAMPLES - 1e-9:
            return p
    return None


def union_length(intervals, lo=None, hi=None):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
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
    """A span's duration minus the part of it its children cover.
    Overlapping children (parallel sections) are counted once."""
    t0, t1 = span
    return (t1 - t0) - union_length(children, t0, t1)


def self_times(spans):
    """Self time of every span in a list of dicts with id, parent, t0, t1."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: self_time((s["t0"], s["t1"]), kids.get(s["id"], [])) for s in spans}


def attribute(ops, events, key="t0", slack_ms=1.0):
    """Map op id -> events whose `key` time falls inside the op's window.
    Ops are sequential (one closed-loop client), so a time window names
    the op that launched the work; Spark event times are whole ms, hence
    the slack."""
    spans = sorted((o["t0"] - slack_ms, o["t1"] + slack_ms, o["id"]) for o in ops)
    out = {o["id"]: [] for o in ops}
    starts = [s[0] for s in spans]
    for ev in events:
        t = ev[key]
        i = bisect.bisect_right(starts, t) - 1
        if i >= 0 and spans[i][0] <= t <= spans[i][1]:
            out[spans[i][2]].append(ev)
    return out


def fail_frac(ops):
    """(attempted, failed, failed / attempted): an op fails when it threw
    or its answer was wrong."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    return attempted, failed, (failed / attempted if attempted else 0.0)


def latency_summary(durations_ms):
    """Median, tail percentile (when the sample allows one) and count."""
    n = len(durations_ms)
    out = {"n": n, "p50": median(durations_ms) if n else None, "tail_p": None, "tail": None}
    p = tail_percentile(n)
    if p is not None:
        out["tail_p"] = p
        out["tail"] = quantile(durations_ms, p)
    return out
