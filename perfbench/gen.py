"""Seeded generator for the engine's input tables.

Writes one parquet file per table with the schema `graft.Tables` loads,
for the tables the benchmark's queries read (TPC-H-like `nation`,
`customer`, `orders`, `lineitem`, plus `events`, `documents`,
`embeddings`). Row
counts scale with `sf`; at sf 0.1 they match the reference test data
(600k lineitem rows, 20k parts, ...). Values are uniform or exponential
draws from `numpy.random.default_rng`: the same (seed, sf) always gives
the same tables, and a different seed gives tables with the same
statistics, so a seed changes the inputs but not the workload.

One thing a seed does not change is which orders contain which parts:
the part co-order graph the graph queries derive from `lineitem` (at sf
0.1 ~6k vertices and ~3.6k edges at minShared = 2, as in the reference
data) is drawn once. A seed relabels order and part keys by a seeded
order-preserving map and shuffles the rows, so every seed gives an
isomorphic graph whose ids sort the same way, and the graph loops (whose
round counts depend on structure and on id order) run the same rounds.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]

# rows at sf 1 (part and supplier only size lineitem's key ranges)
ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
        "documents": 50_000, "embeddings": 20_000}


def _n(table, sf):
    return max(1, int(round(ROWS[table] * sf)))


def _ts(us):
    return pa.array(us.astype("datetime64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _keys(seed, name, n):
    """Seeded strictly increasing map of 0..n-1 into 0..4n-1."""
    rng = np.random.default_rng([seed, len(MAKERS) + list(ROWS).index(name)])
    return np.arange(n, dtype=np.int64) * 4 + rng.integers(0, 4, n)


def nation(rng, sf, seed):
    k = np.arange(25, dtype=np.int32)
    return pa.table({"n_nationkey": k, "n_name": [f"NATION_{i}" for i in k],
                     "n_regionkey": k % 5})


def customer(rng, sf, seed):
    n = _n("customer", sf)
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})


def orders(rng, sf, seed):
    n = _n("orders", sf)
    return pa.table({
        "o_orderkey": _keys(seed, "orders", n),
        "o_custkey": rng.integers(0, _n("customer", sf), n, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})


def lineitem(rng, sf, seed):
    n = _n("lineitem", sf)
    shape = np.random.default_rng([0, list(MAKERS).index("lineitem")])
    order = shape.integers(0, _n("orders", sf), n)
    part_ = shape.integers(0, _n("part", sf), n)
    rows = rng.permutation(n)
    return pa.table({
        "l_orderkey": _keys(seed, "orders", _n("orders", sf))[order[rows]],
        "l_partkey": _keys(seed, "part", _n("part", sf))[part_[rows]],
        "l_suppkey": rng.integers(0, _n("supplier", sf), n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2498, n)) * DAY_US)})


def events(rng, sf, seed):
    n = _n("events", sf)
    # arrivals over 30 days, exponential gaps, so ts is sorted like a log
    gaps = rng.exponential(30 * DAY_US / n, n)
    ts = EPOCH_2024 + np.cumsum(gaps).astype(np.int64)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, sf, seed):
    n = _n("documents", sf)
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    cuts = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n)]
    # a few exact and near duplicates for the dedup operators
    for i in rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    for i in rng.choice(n, size=max(1, n // 20), replace=False):
        texts[i] = texts[i] + " dup"
    lang = np.array(LANGS)[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(rng, sf, seed):
    n = _n("embeddings", sf)
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n, dtype=np.int32)})


MAKERS = {f.__name__: f for f in (nation, customer, orders, lineitem, events,
                                  documents, embeddings)}


def generate(out_dir, seed, sf, tables):
    """Write `tables` to `out_dir/<table>.parquet`; returns `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        # one stream per table: adding a table never shifts another's draws
        rng = np.random.default_rng([seed, list(MAKERS).index(name)])
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(MAKERS[name](rng, sf, seed), path + ".tmp")
        os.replace(path + ".tmp", path)
    return out_dir
