"""Seeded synthetic corpus in the shape of the engine's sf0.01 tables.

``write_corpus(out_dir, seed)`` writes the ten parquet tables every
registry query reads (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings) with the same column names,
physical types and value domains as the reference testdata. The same
seed always yields byte-identical tables; the generator needs only
numpy and pyarrow, so the benchmark never reads data from outside its
checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts of the sf0.01 tables
ROWS = {"customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
        "lineitem": 60_000, "events": 10_000, "documents": 500,
        "embeddings": 500}
EVENT_USERS = 150
EMB_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "green", "hot", "large", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
# exactly this share of documents repeats an earlier one plus " dup", so
# the similarity queries find about as many pairs under every seed
DUP_SHARE = 0.05

_TPCH_EPOCH = np.datetime64("1995-01-01", "us")
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first: int, last: int, n: int) -> np.ndarray:
    off = rng.integers(first, last + 1, n).astype("int64") * _DAY_US
    return _TPCH_EPOCH + off.astype("timedelta64[us]")


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    i32 = pa.int32()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    names = [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart),
                                        rng.choice(PART_NOUN, npart))]
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 1)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, 0, 2404, no),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.uniform(0.0, 0.10, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, 1, 2499, nl)})
    ne = n["events"]
    offs = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _EVENT_EPOCH + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, EVENT_USERS, ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts: list[str] = []
    dups = set(rng.choice(np.arange(1, nd), int(DUP_SHARE * nd),
                          replace=False).tolist())
    for k in range(nd):
        if k in dups:
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{k % 20}" for k in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMB_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32)})
    return out


def write_corpus(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table to ``{out_dir}/{name}.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in _tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
        counts[name] = table.num_rows
    return counts
