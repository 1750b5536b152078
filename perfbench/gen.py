"""Seeded input generator for the benchmark.

Writes parquet tables with the schemas the engine reads: the TPC-H-shaped
tables (region, nation, customer, supplier, part, orders, lineitem) that the
transcript derivation joins, and the curation tables (documents, embeddings,
events). The same seed always gives the same rows; row counts depend only on
the requested sizes, never on the seed, so run times do not drift with it.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EMB_DIM = 64


def _rng(seed, stream):
    # one independent stream per table, so adding a table never shifts
    # the rows of another
    return np.random.default_rng([seed, stream])


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _epoch_us(y, m, d):
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _micros(start, n_days, rng, n):
    return start + rng.integers(0, n_days * 86_400_000_000, n)


def _ts(micros):
    return pa.array(micros, type=pa.timestamp("us"))


def _days(start, n_days, rng, n):
    return start + rng.integers(0, n_days, n) * 86_400_000_000


def tpch(out, seed, orders, customers, parts, suppliers, lines_per_order=4):
    """TPC-H-shaped tables: `orders` orders with exactly
    `orders * lines_per_order` line items spread over them at random."""
    os.makedirs(out, exist_ok=True)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, 1)
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": pa.array(r.integers(0, 25, customers), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, customers), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, customers)]})

    r = _rng(seed, 2)
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        "s_nationkey": pa.array(r.integers(0, 25, suppliers), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, suppliers), 2)})

    r = _rng(seed, 3)
    adj, noun = r.integers(0, 8, parts), r.integers(0, 8, parts)
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(parts), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, parts)],
        "p_type": [P_TYPES[i] for i in r.integers(0, 6, parts)],
        "p_size": pa.array(r.integers(1, 51, parts), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(parts) % 200 / 10, 2)})

    r = _rng(seed, 4)
    start = _epoch_us(1995, 1, 1)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(orders), pa.int64()),
        "o_custkey": pa.array(r.integers(0, customers, orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, orders)],
        "o_totalprice": np.round(r.uniform(1000, 500000, orders), 2),
        "o_orderdate": _ts(_days(start, 2404, r, orders)),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, orders)]})

    r = _rng(seed, 5)
    n = orders * lines_per_order
    qty = r.integers(1, 51, n).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(r.integers(0, orders, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, parts, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, suppliers, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n), 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n)],
        "l_shipdate": _ts(_days(start, 2499, r, n))})


def curation(out, seed, docs, vectors, events, users):
    """documents / embeddings / events. One document in ten is a near copy
    of an earlier one (a word swapped), so the dedup operators find pairs."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 6)
    texts = []
    for i in range(docs):
        if i >= 10 and r.random() < 0.1:
            w = texts[int(r.integers(0, i))].split()
            w[int(r.integers(0, len(w)))] = WORDS[int(r.integers(0, len(WORDS)))]
        else:
            w = [WORDS[j] for j in r.integers(0, len(WORDS), int(r.integers(10, 100)))]
        texts.append(" ".join(w))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, docs, p=LANG_P)],
        "source": [f"src{i}" for i in r.integers(0, 20, docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = _rng(seed, 7)
    labels = r.integers(0, 10, vectors)
    centers = r.normal(size=(10, EMB_DIM))
    centers *= 0.14 / np.linalg.norm(centers, axis=1, keepdims=True)
    x = centers[labels] + r.normal(scale=0.125, size=(vectors, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(vectors), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    r = _rng(seed, 8)
    ts = np.sort(_micros(_epoch_us(2024, 1, 1), 30, r, events))
    _write(out, "events", {
        "event_id": pa.array(np.arange(events), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, users, events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, events)],
        "value": np.round(r.exponential(50, events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, events)]})
