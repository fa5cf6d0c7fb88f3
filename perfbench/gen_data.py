#!/usr/bin/env python3
"""Deterministic synthetic inputs for the benchmark.

Writes one parquet file per table in the layout every registry query
reads (`<dir>/<table>.parquet`): a TPC-H-shaped star schema plus the
`documents`, `embeddings` and `events` tables the LLM-pipeline operators
use. The data depends only on the generator's own fixed seed, never on
the workload seed: a workload seed reorders these inputs, so every seed
sees the same rows and the same expected outputs.

Sizes follow the engine's sf0.01 test data: 15,000 orders, 60,000 line
items, 500 documents, 500 vectors, 10,000 events.

Usage: gen_data.py OUTDIR
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 20261017
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo"]
PART_TYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def days(rng, lo, hi, n):
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int)
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def cents(x):
    return np.round(x, 2)


def write(outdir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(outdir, f"{name}.parquet"))


def documents(rng, n):
    texts, langs = [], rng.choice(LANGS, n, p=LANG_P)
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup operators'
            # true positives
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng, n, dim=64, labels=10):
    label = rng.integers(0, labels, n).astype(np.int32)
    centers = rng.normal(size=(labels, dim))
    v = centers[label] + 0.8 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    }


def events(rng, n, users):
    gaps = rng.exponential(30 * 86400e6 / n, n)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(cents(rng.exponential(50.0, n) + 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def star(rng, orders):
    customers, parts, suppliers = orders // 10, orders * 2 // 15, max(10, orders // 150)
    cols = {}
    cols["region"] = {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                      "r_name": pa.array(REGIONS)}
    cols["nation"] = {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                      "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                      "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}
    cols["customer"] = {
        "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, customers).astype(np.int32)),
        "c_acctbal": pa.array(cents(rng.uniform(-999.99, 9999.99, customers))),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, customers)),
    }
    cols["supplier"] = {
        "s_suppkey": pa.array(np.arange(suppliers, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(suppliers)]),
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers).astype(np.int32)),
        "s_acctbal": pa.array(cents(rng.uniform(-999.99, 9999.99, suppliers))),
    }
    cols["part"] = {
        "p_partkey": pa.array(np.arange(parts, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, parts),
                                                        rng.choice(PART_NOUN, parts))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, parts)]),
        "p_type": pa.array(rng.choice(PART_TYPES, parts)),
        "p_size": pa.array(rng.integers(1, 51, parts).astype(np.int32)),
        "p_retailprice": pa.array(cents(900.0 + (np.arange(parts) % 1000) * 0.1)),
    }
    cols["orders"] = {
        "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, customers, orders).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], orders)),
        "o_totalprice": pa.array(cents(rng.uniform(1000.0, 500000.0, orders))),
        "o_orderdate": pa.array(days(rng, "1995-01-01", "2001-08-02", orders)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, orders)),
    }
    lines = orders * 4
    qty = rng.integers(1, 51, lines).astype(np.float64)
    cols["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, orders, lines).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, parts, lines).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, suppliers, lines).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, lines).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(cents(qty * rng.uniform(900.0, 2100.0, lines))),
        "l_discount": pa.array(rng.integers(0, 11, lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, lines) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], lines)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], lines)),
        "l_shipdate": pa.array(days(rng, "1995-01-02", "2001-11-05", lines)),
    }
    return cols


def main():
    outdir = sys.argv[1]
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(GEN_SEED)
    for name, cols in star(rng, 15000).items():
        write(outdir, name, cols)
    write(outdir, "documents", documents(rng, 500))
    write(outdir, "embeddings", embeddings(rng, 500))
    write(outdir, "events", events(rng, 10000, users=151))


if __name__ == "__main__":
    main()
