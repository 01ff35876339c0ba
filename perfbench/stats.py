"""Pure helpers that turn raw samples, spans and sink dumps into metrics.

Kept free of I/O so the benchmark's own tests can exercise each rule.
"""
import bisect
import math
import statistics

# Percentiles the tail may be taken at, lowest first.
TAIL_GRID = (50, 75, 90, 95, 99, 99.9)
TAIL_MIN_BEYOND = 10


def nearest_rank(sorted_xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it. Returns (value, rank) with rank 1-based."""
    n = len(sorted_xs)
    rank = max(1, math.ceil(p * n / 100.0 - 1e-9))
    return sorted_xs[rank - 1], rank


def tail(samples):
    """The highest grid percentile with at least ten samples beyond it.

    Returns (percentile, value, samples_beyond, n). With fewer than twenty
    samples no percentile qualifies; the median is returned and
    samples_beyond tells the reader how thin it is."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    chosen = None
    for p in TAIL_GRID:
        value, rank = nearest_rank(xs, p)
        if n - rank >= TAIL_MIN_BEYOND:
            chosen = (p, value, n - rank, n)
    if chosen is None:
        value, rank = nearest_rank(xs, 50)
        chosen = (50, value, n - rank, n)
    return chosen


def median(xs):
    return statistics.median(xs) if xs else 0.0


def growth(xs):
    """Median of the last quarter of a series over the median of its first
    quarter (at least one sample each)."""
    if not xs:
        return 0.0
    q = max(1, len(xs) // 4)
    first = median(xs[:q])
    return median(xs[-q:]) / first if first > 0 else 0.0


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its children (children clipped to the parent, overlaps
    counted once). `spans` are dicts with id, parent, start_ns, end_ns.
    Returns {span id: self ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def self_split(spans, root_name):
    """Median self time (ms) per span name over the traces whose root span
    is `root_name`, plus the median root duration. Returns
    ({name: median self ms}, median root ms)."""
    st = self_times(spans)
    by_trace = {}
    for s in spans:
        by_trace.setdefault(s["trace"], []).append(s)
    per_name, roots = {}, []
    for tr in by_trace.values():
        root = [s for s in tr if s["name"] == root_name]
        if not root:
            continue
        roots.append((root[0]["end_ns"] - root[0]["start_ns"]) / 1e6)
        sums = {}
        for s in tr:
            sums[s["name"]] = sums.get(s["name"], 0) + st[s["id"]] / 1e6
        for k, v in sums.items():
            per_name.setdefault(k, []).append(v)
    return {k: median(v) for k, v in per_name.items()}, median(roots)


def check_sinks(expected, sinks, batch_starts):
    """Output check for the ingest workloads.

    expected: {spotnum: row hash} of the clean set enriched once.
    sinks: {sink name: [(spotnum, row hash), ...]} as read back.
    batch_starts: first expected Spotnum of each batch, ascending.
    Every clean Spotnum must be in every sink exactly once with the expected
    hash, and nothing else may be there. Returns (failed batch indexes,
    problems as text)."""
    failed, problems = set(), []

    def batch_of(spotnum):
        return max(0, bisect.bisect_right(batch_starts, spotnum) - 1)

    for name, rows in sorted(sinks.items()):
        seen = {}
        for spotnum, h in rows:
            seen.setdefault(spotnum, []).append(h)
        if len(rows) != len(expected):
            problems.append(f"{name}: {len(rows)} rows, expected {len(expected)}")
        for spotnum, hs in seen.items():
            if spotnum not in expected:
                problems.append(f"{name}: unexpected Spotnum {spotnum}")
                failed.add(batch_of(spotnum))
            elif len(hs) > 1:
                problems.append(f"{name}: Spotnum {spotnum} written {len(hs)} times")
                failed.add(batch_of(spotnum))
            elif hs[0] != expected[spotnum]:
                problems.append(f"{name}: Spotnum {spotnum} differs from the reference")
                failed.add(batch_of(spotnum))
        for spotnum in expected:
            if spotnum not in seen:
                problems.append(f"{name}: Spotnum {spotnum} missing")
                failed.add(batch_of(spotnum))
    counts = {len(r) for r in sinks.values()}
    if len(counts) > 1:
        problems.append(f"sink row counts disagree: {sorted(counts)}")
    return failed, problems


def frame_problem(spark_df, duck_df):
    """The DuckDB-oracle compare of tools/verify_local.py: columns sorted by
    name, rows sorted by every column, dtype-strict exact equality. Returns
    None when equal, else a short description."""
    s = spark_df[sorted(spark_df.columns)]
    o = duck_df[sorted(duck_df.columns)]
    if list(s.columns) != list(o.columns):
        return f"SCHEMA_MISMATCH spark={list(s.columns)} duck={list(o.columns)}"
    if len(s) != len(o):
        return f"ROWCOUNT {len(s)} vs {len(o)}"
    bad = [f"{c}: spark={s[c].dtype} duck={o[c].dtype}"
           for c in s.columns if s[c].dtype != o[c].dtype]
    if bad:
        return "DTYPE_MISMATCH " + "; ".join(bad[:4])
    s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
    diffs = []
    for c in s.columns:
        a, b = s[c], o[c]
        if not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            if neq.any():
                diffs.append(f"{c}[{int(neq.sum())} diffs]")
    return None if not diffs else "VALUE_MISMATCH " + "; ".join(diffs[:3])
