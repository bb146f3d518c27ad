"""Deterministic synthetic inputs for the benchmark.

The engine's declared queries read ten parquet tables (a TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``). The benchmark must
not read anything outside its own checkout, so it writes those tables itself,
with the same schemas and value distributions as the engine's test data.
Every table is a pure function of ``(scale, seed)``.

Change batches for the upsert workload are generated here too: each batch
rewrites about 2% of the ``orders`` keys and adds a few new ones.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]

TS = pa.timestamp("us")


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def orders_table(rng, n_orders: int, n_cust: int) -> dict:
    return {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _days(rng, n_orders, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    }


ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", TS), ("o_orderpriority", pa.string()),
])


def _documents(rng, n_docs: int) -> dict:
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near duplicate of an earlier document, as crawled corpora have
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if rng.random() < 0.5 else src)
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n_vec: int, dim: int = 64) -> dict:
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = rng.normal(0.0, 1.0, (n_vec, dim)) + 0.5 * centers[labels]
    # ~10% near-duplicates of an earlier vector
    for i in np.flatnonzero(rng.random(n_vec) < 0.1):
        if i > 0:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0.0, 0.02, dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels.astype(np.int32),
    }


def write_tables(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write the ten engine tables at ``scale`` (1.0 = 6M lineitem rows) into
    ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_orders = max(1500, int(1_500_000 * scale))
    n_line = 4 * n_orders
    n_events = max(1000, int(1_000_000 * scale))
    n_users = max(15, n_events // 66)
    n_docs = max(50, int(50_000 * scale))
    n_vec = max(50, int(50_000 * scale))

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    }, pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }, pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                  ("n_regionkey", pa.int32())]))
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                  ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                  ("c_mktsegment", pa.string())]))
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                  ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                  ("p_brand", pa.string()), ("p_type", pa.string()),
                  ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    _write(out_dir, "orders", orders_table(rng, n_orders, n_cust), ORDERS_SCHEMA)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    }, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                  ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                  ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                  ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                  ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                  ("l_shipdate", TS)]))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86400 * 10**6
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": start + np.sort(rng.integers(0, month_us, n_events)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }, pa.schema([("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
                  ("event_type", pa.string()), ("value", pa.float64()),
                  ("props", pa.string())]))
    _write(out_dir, "documents", _documents(rng, n_docs), pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]))
    _write(out_dir, "embeddings", _embeddings(rng, n_vec), pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32())]))
    return {"orders": n_orders, "lineitem": n_line, "events": n_events,
            "documents": n_docs, "embeddings": n_vec}


def change_batch(seed: int, index: int, n_orders: int, n_cust: int) -> pa.Table:
    """Change batch ``index``: ~2% of the existing ``orders`` keys get new
    values and 0.2% new keys are appended. Keys are unique within a batch."""
    rng = np.random.default_rng([seed, index])
    n_upd = max(1, n_orders // 50)
    n_new = max(1, n_orders // 500)
    keys = np.sort(rng.choice(n_orders, n_upd, replace=False)).astype(np.int64)
    new_keys = np.arange(n_new, dtype=np.int64) + n_orders + index * n_new
    cols = orders_table(rng, n_upd + n_new, n_cust)
    cols["o_orderkey"] = np.concatenate([keys, new_keys])
    return pa.Table.from_pydict(cols, schema=ORDERS_SCHEMA)

