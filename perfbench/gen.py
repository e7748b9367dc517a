"""Seeded input generator for the benchmark.

Writes the star schema the registered queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one snappy parquet file per table. Column names, types
and value distributions follow the TPC-H-like test tables the program is
verified on; every value is drawn from a numpy PCG64 stream seeded by
the workload seed, so the same seed gives byte-identical tables.
"""
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "small", "hot", "old", "big", "green", "cold", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "gear", "bolt", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]

US = 1_000_000
DAY_US = 86_400 * US


def _epoch_us(y, m, d):
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * US


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": int(15_000 * sf), "documents": int(50_000 * sf),
        "embeddings": max(500, int(20_000 * sf)),
    }


def generate(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n = sizes(sf)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})

    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(c)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, c), s)})

    su = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(su), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(su)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, su), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, su), f64)})

    p = n["part"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, p), rng.integers(0, 8, p))], s),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, p)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, p), s),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(p) % 1000) / 10, 1), f64)})

    o = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], o), s),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, o), f64),
        "o_orderdate": pa.array(_epoch_us(1995, 1, 1) + rng.integers(0, 2404, o) * DAY_US, ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, o), s)})

    li = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, su, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, li), f64),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], li), s),
        "l_shipdate": pa.array(_epoch_us(1995, 1, 2) + rng.integers(0, 2499, li) * DAY_US, ts)})

    e = n["events"]
    _write(out, "events", {
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(_epoch_us(2024, 1, 1) + np.sort(rng.integers(0, 30 * DAY_US, e)), ts),
        "user_id": pa.array(rng.integers(0, n["users"], e), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, e), s),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], s)})

    # documents: random word sequences; one in twenty is an earlier
    # document's text with " dup" appended (the near-duplicates the
    # dedup operators look for)
    d = n["documents"]
    texts = []
    for k in range(d):
        if k > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(d), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, d, p=LANG_P), s),
        "source": pa.array([f"src{k % 20}" for k in range(d)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    m = n["embeddings"]
    vecs = rng.standard_normal((m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(m), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), i32)})
