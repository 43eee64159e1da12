"""Pure helpers that turn a raw run record into metrics.

Nothing here touches Spark or the file system; `test_metrics.py` covers the
tail-percentile rule, span self time, the interval union behind
`sched.driver_gap_s`, the CPU steal share and the result-digest
canonicalisation.
"""
import hashlib
import json
import math
import statistics


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples, beyond=10):
    """The highest whole percentile above the median with at least `beyond`
    samples above it.

    Percentile p is the nearest-rank value: the ceil(p/100 * n)-th smallest
    sample. Returns (p, value, samples_above), or None when no percentile
    whose rank lies above both ranks the median uses has `beyond` samples
    above it (fewer than 2 * beyond + 3 samples): a tail that would be the
    median is not reported as a tail.
    """
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 50, -1):
        rank = max(1, math.ceil(p / 100 * n))
        above = n - rank
        if above >= beyond and rank > n // 2 + 1:
            return (p, xs[rank - 1], above)
    return None


def interval_union(intervals, lo=None, hi=None):
    """Total length covered by `intervals` (pairs of start, end), optionally
    clipped to [lo, hi]. Overlapping intervals count once."""
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


def driver_gap(start, end, job_intervals):
    """Wall time in [start, end] that no job covers."""
    return (end - start) - interval_union(job_intervals, start, end)


def steal_share(before, after):
    """Share of the machine's CPU time a hypervisor gave to other guests
    between two readings of /proc/stat's cpu line (its 8th field is steal),
    or None without both readings."""
    if before is None or after is None or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    that its direct children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - interval_union(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def _canon_value(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        if v == 0.0:
            return 0.0
        # 9 significant digits absorb summation-order noise across partitionings
        return float(f"{v:.9g}")
    if isinstance(v, list):
        return [_canon_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _canon_value(x) for k, x in v.items() if x is not None}
    return v


def canonical_rows(jsonl):
    """Result rows (one JSON object per line) as sorted canonical strings.

    Null fields are dropped (Spark omits them), floats keep 9 significant
    digits, -0.0 becomes 0.0, keys are sorted, and the row order is ignored.
    """
    rows = []
    for line in jsonl.splitlines():
        if line.strip():
            row = _canon_value(json.loads(line))
            rows.append(json.dumps(row, sort_keys=True, separators=(",", ":")))
    rows.sort()
    return rows


def digest(jsonl):
    """`<rows>:<sha256>` of the canonical rows."""
    rows = canonical_rows(jsonl)
    h = hashlib.sha256("\n".join(rows).encode("utf-8")).hexdigest()
    return f"{len(rows)}:{h[:32]}"
