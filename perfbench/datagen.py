"""Deterministic sf0.1-shaped fixture tables for the benchmark.

The ten tables mirror the schema, row counts, value domains and file layout
(one snappy row group per table, written by pyarrow) of the engine's test
fixtures, so every registry entry runs on them unchanged. The same seed
always yields byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000,
        "embeddings": 2000}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["bolt", "plate", "rod", "anvil", "widget", "gizmo", "ring", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["de", "en", "es", "fr", "zh"]

DAY_US = 86_400_000_000


def _pick(rng, values, n, p=None):
    """String column drawn from `values` (dictionary-encoded, then plain)."""
    idx = pa.array(rng.choice(len(values), size=n, p=p).astype(np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(values)).cast(pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, n_days, n) * DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tables(seed):
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": _names("Customer", n),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})
    n = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": _names("Supplier", n),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = ROWS["part"]
    adj = rng.integers(0, len(ADJECTIVES), n)
    noun = rng.integers(0, len(NOUNS), n)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array([f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1)})
    n = ROWS["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n),
        "o_orderpriority": _pick(rng, PRIORITIES, n)})
    n = ROWS["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n)})
    n = ROWS["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = start + np.sort(rng.integers(0, 30 * DAY_US, n))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})
    n = ROWS["documents"]
    texts = [" ".join(rng.choice(WORDS, size=int(k)))
             for k in rng.integers(10, 101, n)]
    for i in rng.choice(n, size=8, replace=False):  # a few exact duplicates
        j = int(rng.integers(0, n))
        texts[j] = texts[i] = texts[i] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=[0.14, 0.41, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    n, dim = ROWS["embeddings"], 64
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.astype(np.float32).ravel()), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    return out


def write(directory, seed):
    """Write every table as `<directory>/<name>.parquet`."""
    os.makedirs(directory, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"),
                       compression="snappy", row_group_size=1 << 30)
