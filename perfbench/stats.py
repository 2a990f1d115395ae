"""Pure measurement arithmetic shared by the workloads (tested in
perfbench/tests): percentiles, span self time, ingest freshness, result
digests."""
import datetime as dt
import decimal
import hashlib
import math
import struct

FAILED = math.inf
"""Latency recorded for a failed operation: it ranks above every limit."""


def tail_rank(n: int, beyond: int = 10):
    """0-based rank of the highest order statistic that still has `beyond`
    samples above it, or None when there are too few samples."""
    return n - beyond - 1 if n > beyond else None


def summarize(samples, beyond: int = 10) -> dict:
    """Median and tail of `samples` (failures are `FAILED`).

    The tail is the highest percentile that has at least `beyond` samples
    beyond it: with n samples it is the order statistic of rank n-beyond-1,
    the (n-beyond)/n quantile."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return {"n": 0, "p50": math.nan, "tail": math.nan, "tail_pct": math.nan}
    mid = n // 2
    p50 = xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2
    r = tail_rank(n, beyond)
    return {"n": n, "p50": p50,
            "tail": xs[r] if r is not None else math.nan,
            "tail_pct": 100.0 * (n - beyond) / n if r is not None else math.nan}


def percentile(samples, pct: float):
    """Nearest-rank `pct` percentile of `samples` (failures are `FAILED`):
    the smallest value with at least pct% of the samples at or below it."""
    xs = sorted(samples)
    if not xs:
        return math.nan
    return xs[max(0, math.ceil(pct / 100 * len(xs)) - 1)]


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its children (overlapping children count once).

    `spans` are dicts with id, start, end and parent (None for a root);
    returns {id: self time}, in the spans' time unit."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(lo, c["start"]), min(hi, c["end"])
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


def freshness(published, polls):
    """Per-event freshness from event ordinals.

    `published` is a list of (first ordinal, last ordinal, publish time) for
    each file, in publishing order; `polls` is a list of (completion time,
    visible count) in completion order. Event i is visible once a poll
    returns count >= i; its freshness is that poll's completion time minus
    its file's publish time. Events no poll ever saw get `FAILED`. Returns one value per event, in ordinal order."""
    out = []
    best = 0  # running max of counts, with the time it was first reached
    reached = []
    for t, count in polls:
        if count > best:
            best = count
            reached.append((count, t))
    j = 0
    for lo, hi, t_pub in published:
        for i in range(lo, hi + 1):
            while j < len(reached) and reached[j][0] < i:
                j += 1
            out.append(reached[j][1] - t_pub if j < len(reached) else FAILED)
    return out


_EPOCH = dt.datetime(1970, 1, 1)


def _micros(d) -> int:
    if d.tzinfo is not None:
        d = d.astimezone(dt.timezone.utc).replace(tzinfo=None)
    delta = d - _EPOCH
    return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds


def _dbl(x: float) -> str:
    if math.isnan(x):
        return "dNaN"
    if x == 0.0:
        x = 0.0
    return "d" + struct.pack(">d", x).hex()


def cell(v) -> str:
    """Canonical encoding of one result cell; mirrors `Engine.cell`."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i" + str(v)
    if isinstance(v, float):
        return _dbl(v)
    if isinstance(v, decimal.Decimal):
        return _dbl(float(v))
    if isinstance(v, str):
        return f"s{len(v.encode('utf-16-le')) // 2}:{v}"
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, dt.datetime):
        return "t" + str(_micros(v))
    if isinstance(v, dt.date):
        return "t" + str((v - dt.date(1970, 1, 1)).days * 86_400_000_000)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    return "o" + str(v)


def digest(columns, rows) -> str:
    """Order-sensitive SHA-256 of a result: the column names in sorted
    order, then each row's cells in that column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256()
    h.update(("cols:" + ",".join(columns[i] for i in order) + "\n").encode())
    for r in rows:
        h.update(("|".join(cell(r[i]) for i in order) + "\n").encode())
    return h.hexdigest()
