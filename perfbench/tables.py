#!/usr/bin/env python3
"""Seeded input tables for the `query_suite` workload.

    python3 perfbench/tables.py <seed> <out_dir>

Writes the ten parquet tables `graft.SparkEntry.queries` read (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) at the sf0.01 row counts, with the column names, types and value
domains of the repository's sf0.01 test data (TESTDATA.md): uniform keys and
categories, day-granular TPC-H dates, an `events` stream sorted by time over
30 days, word-salad documents with a few near-duplicates, and 64-dim unit
embeddings around ten label centres. The same seed writes byte-identical
files.
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()


def days(rng, n, first, last):
    """`n` midnight timestamps (µs) uniform over [first, last]."""
    d0 = (first - datetime.date(1970, 1, 1)).days
    span = (last - first).days + 1
    return pa.array((d0 + rng.integers(0, span, n)) * 86_400_000_000,
                    pa.timestamp("us"))


def pick(rng, values, n):
    return pa.array([values[i] for i in rng.integers(0, len(values), n)])


def money(rng, lo, hi, n):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def tables(seed):
    rng = np.random.default_rng(seed)
    i32 = lambda xs: pa.array(xs, pa.int32())
    keys = lambda n: pa.array(np.arange(n, dtype=np.int64))
    t = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": i32(range(25)),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": i32([i % 5 for i in range(25)])})
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": keys(n), "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": i32(rng.integers(0, 25, n)),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": pick(rng, SEGMENTS, n)})
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": keys(n), "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": i32(rng.integers(0, 25, n)),
        "s_acctbal": money(rng, -999.99, 9999.99, n)})
    n = ROWS["part"]
    t["part"] = pa.table({
        "p_partkey": keys(n),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": pick(rng, PART_TYPES, n),
        "p_size": i32(rng.integers(1, 51, n)),
        "p_retailprice": pa.array([round(900 + (i % 1000) / 10, 1) for i in range(n)])})
    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": keys(n),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n)),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n),
        "o_totalprice": money(rng, 1000, 500000, n),
        "o_orderdate": days(rng, n, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1)),
        "o_orderpriority": pick(rng, PRIORITIES, n)})
    n = ROWS["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n)),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n)),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n)),
        "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": money(rng, 900, 105000, n),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100),
        "l_returnflag": pick(rng, ["A", "N", "R"], n),
        "l_linestatus": pick(rng, ["F", "O"], n),
        "l_shipdate": days(rng, n, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4))})
    n = ROWS["events"]
    start = int(datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
                .timestamp()) * 1_000_000
    t["events"] = pa.table({
        "event_id": keys(n),
        "ts": pa.array(start + np.sort(rng.integers(0, 30 * 86_400_000_000, n)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n)),
        "event_type": pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n), 2))),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = ROWS["documents"]
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # a near-duplicate: an earlier document with one word replaced
            w = texts[rng.integers(0, i)].split()
            w[rng.integers(0, len(w))] = WORDS[rng.integers(0, len(WORDS))]
        else:
            w = [WORDS[j] for j in rng.integers(0, len(WORDS), rng.integers(8, 91))]
        texts.append(" ".join(w))
    t["documents"] = pa.table({
        "doc_id": keys(n), "text": texts, "lang": pick(rng, LANGS, n),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    n = ROWS["embeddings"]
    centres = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centres[labels] + rng.normal(0, 1.5, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": keys(n),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels)})
    return t


def main(seed, out):
    os.makedirs(out, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main(int(sys.argv[1]), sys.argv[2])
