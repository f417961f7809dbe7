"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the program's fixtures read (lineitem,
orders, customer, part, supplier, nation, region, events, documents,
embeddings) with the same schemas and value shapes as the repository's
TPC-H-like test data, so every fixture derivation and every DuckDB oracle
twin applies unchanged. The same (seed, lines) gives the same files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
NOUN = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, first, last):
    """Midnight timestamps (µs) uniform over [first, last]."""
    span = (last - first).days + 1
    base = np.datetime64(first.isoformat(), "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, seed, lines):
    """Write the tables for `lines` lineitem rows into directory `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = max(lines // 4, 100)
    n_cust = max(lines // 40, 50)
    n_part = max(lines // 30, 100)
    n_supp = max(lines // 600, 10)
    n_events = max(lines // 6, 1000)
    n_docs = max(lines // 120, 500)
    n_emb = 500

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{rng.choice(ADJ)} {rng.choice(NOUN)}"
                            for _ in range(n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(_money(rng, n_orders, 1000.0, 500000.0)),
        "o_orderdate": pa.array(_days(rng, n_orders, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1))),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders))})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, lines)),
        "l_partkey": pa.array(rng.integers(0, n_part, lines)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, lines)),
        "l_linenumber": pa.array(rng.integers(1, 8, lines), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, lines).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, lines, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, lines) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], lines)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], lines)),
        "l_shipdate": pa.array(_days(rng, lines, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4)))})

    # events: sorted timestamps over 30 days, µs precision
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_events))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 150, n_events)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.maximum(
            np.round(rng.exponential(50.0, n_events), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, n_events)])})

    # documents: random word strings; exactly 5% are an earlier document
    # + " dup", so every seed carries the same amount of dedup work
    dups = set(rng.choice(np.arange(11, n_docs), n_docs // 20, replace=False).tolist())
    texts = []
    for i in range(n_docs):
        if i in dups:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 100))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64))})

    # embeddings: unit-norm float32 vectors, 10 labels
    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
