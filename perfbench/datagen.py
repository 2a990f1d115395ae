"""Seeded generator for the engine's ten fixture tables.

The declared queries read ten parquet tables (a TPC-H-like star, an `events`
stream table, `documents` and `embeddings`). This module writes tables of the
same schema and the same value domains, sized by a scale factor, from a seed:
the same (seed, sf) always gives byte-identical files. Row counts per table
follow the test fixtures (TESTDATA.md): lineitem has 6,000,000 * sf rows,
documents and embeddings never drop below 500.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]

US_PER_DAY = 86_400_000_000


def _days_since_epoch(y, m, d):
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days


def _day_ts(rng, first, last, n):
    """n timestamps at midnight, uniform over [first, last] (inclusive days)."""
    lo, hi = _days_since_epoch(*first), _days_since_epoch(*last)
    days = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(days * US_PER_DAY, type=pa.timestamp("us"))


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(seed: int, sf: float) -> dict:
    """All ten tables as pyarrow Tables, generated from `seed` at scale `sf`."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(round(150_000 * sf)))
    n_supp = max(10, int(round(10_000 * sf)))
    n_part = max(20, int(round(200_000 * sf)))
    n_ord = max(150, int(round(1_500_000 * sf)))
    n_line = max(600, int(round(6_000_000 * sf)))
    n_evt = max(100, int(round(1_000_000 * sf)))
    n_doc = max(500, int(round(50_000 * sf)))
    n_vec = max(500, int(round(20_000 * sf)))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1))})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _day_ts(rng, (1995, 1, 1), (2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _day_ts(rng, (1995, 1, 2), (2001, 11, 4), n_line)})
    t0 = _days_since_epoch(2024, 1, 1) * US_PER_DAY
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_evt, dtype=np.int64)) + t0
    value = np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_evt, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), int(k))])
             for k in rng.integers(10, 100, n_doc)]
    # ~5% near-duplicates: another document's text plus a marker token
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.standard_normal((10, 64))
    vec = rng.standard_normal((n_vec, 64)) + 0.15 * centroids[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return out


def write(seed: int, sf: float, out_dir) -> None:
    """Write `<out_dir>/<table>.parquet` for every table."""
    for name, table in tables(seed, sf).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
