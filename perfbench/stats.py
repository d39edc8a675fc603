"""Pure helpers of the benchmark: sample statistics, interval arithmetic
and result hashing. Kept free of I/O so `test_stats.py` can pin them."""
import hashlib
import math
import statistics

TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else None


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile that still has at least `beyond` samples above
    it: the sample at rank n-1-beyond of the sorted values. Returns
    (value, percentile, n), or None when there are too few samples."""
    n = len(values)
    if n < beyond + 1:
        return None
    rank = n - 1 - beyond
    return sorted(values)[rank], 100.0 * (rank + 1) / n, n


def failed_frac(attempted, failed):
    return failed / attempted if attempted else 1.0


def outcome(jvm_attempted, jvm_failed, bad_hashes, hashes_checked):
    """Attempted and failed operations of a run: the JVM's own operations
    plus one per analytics result hash, failed when it differs."""
    return jvm_attempted + hashes_checked, jvm_failed + len(bad_hashes)


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def driver_time(lo, hi, job_intervals):
    """Time in [lo, hi] during which no job was running."""
    return (hi - lo) - covered(job_intervals, lo, hi)


def self_times(spans):
    """Each span's duration minus the part of it its child spans cover,
    keyed by span id (spans: dicts with id, parent, start_us, end_us)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"])
            - covered(children.get(s["id"], []), s["start_us"], s["end_us"]) for s in spans}


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v.item() if hasattr(v, "item") else v)


def rows_hash(columns, rows):
    """Order-insensitive hash of a result: columns sorted by name, each
    value in a canonical text form, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr([_cell(r[i]) for i in order]) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
    return h.hexdigest()[:32]


def frame_hash(df):
    """`rows_hash` of a pandas frame, normalised the way the DuckDB oracle
    compare normalises both sides (tools/check_oracle.py)."""
    import pandas as pd
    df = df.copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
    rows = [[None if pd.isna(v) else v for v in r] for r in df.itertuples(index=False, name=None)]
    return rows_hash(list(df.columns), rows)


def hash_verdicts(expected, got):
    """Names whose hash is missing or differs from the pinned one."""
    return sorted(q for q in expected if got.get(q) != expected[q])
