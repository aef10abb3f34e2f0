"""Seeded tables for the `catalog` workload, in the shape of the engine's
sf tables (columns, types, key relationships and value ranges of
TESTDATA.md's star schema plus `events` and `documents`), at scale factor
`sf` (sf 0.1 = 600k lineitems).

The document corpus is bimodal on purpose: a near-duplicate is a copy of
a long base document with one word replaced (4-shingle Jaccard >= 0.8),
everything else is random text (Jaccard ~0), so MinHash-LSH finds exactly
the exact-Jaccard pair set and the DuckDB twin is a valid oracle.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem",
          "events", "documents")
WORDS = ("spark stream batch query table join group sort hash scan filter window "
         "row column value key data merge agg vector small big fast slow order "
         "line part customer the a index shard cache plan task stage job lake").split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_NS = 86400 * 10**9


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, columns):
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def _days(start, n_days, rng, n):
    base = np.datetime64(start, "ms")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def generate(out_dir, seed, sf):
    """Write every table the catalog queries read into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_orders, n_events, n_docs = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999, 9999, n_supp)})

    orderdate = _days("1995-01-01", 2404, rng, n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": orderdate,
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)})

    # 0-7 lines per order, ~2% of orders without any
    lines = np.where(rng.random(n_orders) < 0.02, 0, rng.integers(1, 8, n_orders))
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    _write(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, int(200_000 * sf), n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": np.repeat(orderdate, lines)
        + rng.integers(1, 122, n_li).astype("timedelta64[D]")})

    ts = np.sort(np.datetime64("2024-01-01", "ns")
                 + rng.integers(0, 30 * DAY_NS, n_events).astype("timedelta64[ns]"))
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, int(15_000 * sf), n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": _money(rng, 0, 560, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    # each long original is copied at most once and copies are never
    # copied again, so every similar pair is a (base, copy) pair
    texts, eligible = [], []
    for _ in range(n_docs):
        if eligible and rng.random() < 0.3:
            base = texts[eligible.pop(int(rng.integers(0, len(eligible))))].split(" ")
            base[int(rng.integers(0, len(base)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(base))
        else:
            toks = rng.choice(WORDS, int(rng.integers(8, 90)))
            if len(toks) >= 40:
                eligible.append(len(texts))
            texts.append(" ".join(toks))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_docs),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
