"""Metric math of the benchmark, kept free of I/O so tests can drive it
with synthetic inputs (test_metrics.py)."""
import bisect
import math

import pandas as pd


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it. Returns (value, sample count); the value
    is None when there are no samples."""
    xs = sorted(values)
    if not xs:
        return None, 0
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1], len(xs)


def median(values):
    xs = sorted(values)
    if not xs:
        return None
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end) intervals,
    optionally clipped to [lo, hi)."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
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


def driver_gap(start, end, job_intervals):
    """Wall time of [start, end) not covered by any job: wall minus the
    union of the (clipped) job intervals. Never negative."""
    return max(0.0, (end - start) - union_length(job_intervals, start, end))


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    that its children cover. `spans` are dicts with id, parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def admitting_batches(batch_ends, records):
    """The micro-batch that admitted each record, from the batches' end
    offsets. `batch_ends` is [(batch_id, {shard: records consumed})] in
    commit order; `records` is [(shard, seq)] with 0-based per-shard seq.
    A record belongs to the first batch whose end offset for its shard
    passes its seq; None if no batch did."""
    per_shard = {}
    for batch_id, ends in batch_ends:
        for shard, n in ends.items():
            per_shard.setdefault(shard, ([], []))
            ns, ids = per_shard[shard]
            if not ns or n > ns[-1]:
                ns.append(n)
                ids.append(batch_id)
    out = []
    for shard, seq in records:
        ns, ids = per_shard.get(shard, ([], []))
        i = bisect.bisect_right(ns, seq)
        out.append(ids[i] if i < len(ids) else None)
    return out


def compare_frames(exp, got):
    """The oracle comparison rule of tools/check_oracle.py: columns sorted
    by name must match; row counts must match; rows sorted by every
    column; cells equal when both null, floats within 1e-9 absolute,
    anything else by its string form. Returns None or a mismatch."""
    exp = exp[sorted(exp.columns)]
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return f"columns exp={list(exp.columns)} got={list(got.columns)}"
    if len(exp) != len(got):
        return f"rows exp={len(exp)} got={len(got)}"

    def norm(df):
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    exp, got = norm(exp), norm(got)
    for c in exp.columns:
        for i, (a, b) in enumerate(zip(exp[c], got[c])):
            na, nb = _isna(a), _isna(b)
            if na and nb:
                continue
            if na != nb:
                return f"col={c} row={i} exp={a!r} got={b!r}"
            if isinstance(a, float) or isinstance(b, float):
                if not math.isclose(float(a), float(b), rel_tol=0, abs_tol=1e-9):
                    return f"col={c} row={i} exp={a!r} got={b!r}"
            elif str(a) != str(b):
                return f"col={c} row={i} exp={a!r} got={b!r}"
    return None


def _isna(v):
    r = pd.isna(v)
    return bool(r) if isinstance(r, bool) or not hasattr(r, "__len__") else False
