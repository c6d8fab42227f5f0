"""Statistics of the benchmark: percentiles with a support rule, open-loop
tick latencies attributed to micro-batches through source offsets, ticks
waiting per micro-batch, backlog drain times, and order-insensitive result
fingerprints.
"""
import hashlib
import math
import statistics

MIN_BEYOND = 10  # a percentile is reported only with this many samples above it


def nearest_rank(xs, p):
    """The p-th percentile (0 < p <= 100) by the nearest-rank rule."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def supported_percentile(n, wanted, beyond=MIN_BEYOND):
    """Highest whole percentile <= `wanted` that leaves at least `beyond`
    of `n` samples above its nearest-rank position, or None."""
    for p in range(int(wanted), 0, -1):
        if n - math.ceil(p / 100.0 * n) >= beyond:
            return p
    return None


def tail(xs, wanted):
    """The `wanted` percentile of `xs` if the sample supports it, else the
    highest one that does; always with the sample count."""
    p = supported_percentile(len(xs), wanted)
    out = {"wanted": wanted, "p": p, "n": len(xs), "value": None, "beyond": None}
    if p is not None:
        out["value"] = nearest_rank(xs, p)
        out["beyond"] = len(xs) - math.ceil(p / 100.0 * len(xs))
    return out


def batch_ends(batches):
    """Micro-batches that consumed source offsets, as sorted
    (start_offset, end_offset, start_ms, end_ms); a batch covers the
    offsets in (start_offset, end_offset]."""
    return sorted((b["start_offset"], b["end_offset"], b["start_ms"], b["end_ms"])
                  for b in batches if b["end_offset"] > b["start_offset"])


def covering(ends, offset):
    """The batch of `ends` (from `batch_ends`) whose range holds `offset`."""
    for start, end, t0, t1 in ends:
        if start < offset <= end:
            return t0, t1
    return None


def tick_latencies(appends, queries):
    """Open-loop latency of every tick: from its due time at the generator
    to the end of the LAST of `queries` to finish the micro-batch holding
    the tick's source offset. A tick whose offset no batch covers is
    returned in the second list (it never landed)."""
    ends = [batch_ends(q) for q in queries]
    lat, lost = [], []
    for a in appends:
        done = [covering(e, a["offset"]) for e in ends]
        if any(d is None for d in done):
            lost.append(a["offset"])
            continue
        finish = max(d[1] for d in done)
        lat.extend(finish - due for due in a["due_ms"])
    return lat, lost


def waiting_ticks(appends, batches):
    """Ticks left waiting at the end of each micro-batch: those appended by
    the batch's end time at offsets beyond the batch's end offset."""
    return [sum(x["n"] for x in appends
                if x["emit_ms"] <= b["end_ms"] and x["offset"] > b["end_offset"])
            for b in batches]


def drain_seconds(offset, queries):
    """Wall time both queries took for the batches holding `offset`: first
    batch start to last batch end."""
    spans = [covering(batch_ends(q), offset) for q in queries]
    if any(s is None for s in spans):
        return None
    return (max(s[1] for s in spans) - min(s[0] for s in spans)) / 1000.0


def median(xs):
    return statistics.median(xs) if xs else None


def _cell(v):
    """Canonical text of one result value, identical for DuckDB and Spark
    outputs read through pandas."""
    if v is None:
        return "null"
    if isinstance(v, float):
        return "null" if math.isnan(v) else repr(v)
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _cell(v.tolist())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        if getattr(v, "tzinfo", None) is not None:
            v = v.tz_convert(None) if hasattr(v, "tz_convert") else v.replace(tzinfo=None)
        return v.isoformat()
    return str(v)


def fingerprint(df):
    """Order-insensitive fingerprint of a pandas frame: columns are taken in
    name order and the rows as a multiset, so two engines that return the
    same rows in any order (and columns in any order) agree."""
    cols = sorted(df.columns)
    rows = sorted(hashlib.sha256("\x1f".join(_cell(x) for x in r).encode()).hexdigest()
                  for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(("\x1e".join(cols) + "\x1d").encode())
    for r in rows:
        h.update(r.encode())
    return f"{len(rows)}:{h.hexdigest()[:32]}"
