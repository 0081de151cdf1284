#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Builds, from one integer seed, the parquet tables a workload reads: the
TPC-H-ish star schema plus `events`, `documents` and `embeddings`, shaped
like the sf0.1 harness fixtures (same columns, types, value ranges and
single-row-group files). The same seed always gives byte-identical inputs;
every workload gets the same tables and reads the ones it needs.

Usage: python3 gen.py SEED OUT_DIR
Writes OUT_DIR/<table>.parquet and OUT_DIR/manifest.json with rows, bytes
and row groups per table.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

N_DOCS = 5_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64


def rng_for(seed, table):
    # One independent stream per table: adding a table never shifts another.
    return np.random.default_rng([seed, sum(map(ord, table))])


def days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def region(seed):
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": names})


def nation(seed):
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def customer(seed, n=15_000):
    r = rng_for(seed, "customer")
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(r, -999.99, 9999.99, n),
        "c_mktsegment": pick(r, SEGMENTS, n)})


def supplier(seed, n=1_000):
    r = rng_for(seed, "supplier")
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(r, -999.99, 9999.99, n)})


def part(seed, n=20_000):
    r = rng_for(seed, "part")
    adj = ["hot", "cold", "large", "small", "bright", "dark", "smooth", "rough"]
    noun = ["bolt", "ring", "nut", "gear", "pipe", "valve", "screw", "spring"]
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(pick(r, adj, n), pick(r, noun, n))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n)],
        "p_type": pick(r, PART_TYPES, n),
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2)})


def orders(seed, n=150_000):
    r = rng_for(seed, "orders")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, 15_000, n), pa.int64()),
        "o_orderstatus": pick(r, ["F", "O", "P"], n),
        "o_totalprice": money(r, 1000, 500_000, n),
        "o_orderdate": pa.array(days(r, "1995-01-01", "2001-08-01", n), pa.timestamp("us")),
        "o_orderpriority": pick(r, PRIORITIES, n)})


def lineitem(seed, n=600_000):
    r = rng_for(seed, "lineitem")
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, 150_000, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(r, 900, 105_000, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(r, ["A", "N", "R"], n),
        "l_linestatus": pick(r, ["F", "O"], n),
        "l_shipdate": pa.array(days(r, "1995-01-02", "2001-11-04", n), pa.timestamp("us"))})


def events(seed, n=100_000):
    r = rng_for(seed, "events")
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ts = np.sort(t0 + r.integers(0, span, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 1_500, n), pa.int64()),
        "event_type": pick(r, EVENT_TYPES, n),
        "value": np.round(r.exponential(40.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})


def documents(seed, n=N_DOCS):
    """Template-vocabulary documents; 5% are near-duplicates (a copy of an
    earlier document plus one token) and a few are exact copies, so the
    exact, MinHash and SimHash dedup paths all find work."""
    r = rng_for(seed, "documents")
    texts = []
    for i in range(n):
        u = r.random()
        if i > 10 and u < 0.05:
            texts.append(texts[r.integers(0, i)] + " dup")
        elif i > 10 and u < 0.052:
            texts.append(texts[r.integers(0, i)])
        else:
            k = int(r.integers(10, 101))
            texts.append(" ".join(np.asarray(WORDS)[r.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pick(r, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(seed, n=N_EMBEDDINGS, dim=EMBED_DIM):
    r = rng_for(seed, "embeddings")
    centers = r.normal(size=(10, dim))
    labels = r.integers(0, 10, n)
    v = centers[labels] * 0.35 + r.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def describe(path):
    meta = pq.ParquetFile(path).metadata
    return {"rows": meta.num_rows, "bytes": os.path.getsize(path),
            "row_groups": meta.num_row_groups}


def generate(seed, out):
    os.makedirs(out, exist_ok=True)
    tables = {"region": region(seed), "nation": nation(seed),
              "customer": customer(seed), "supplier": supplier(seed),
              "part": part(seed), "orders": orders(seed),
              "lineitem": lineitem(seed), "events": events(seed),
              "documents": documents(seed), "embeddings": embeddings(seed)}
    for name, table in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    manifest = {name: describe(os.path.join(out, f"{name}.parquet")) for name in tables}
    manifest["documents"]["text_bytes"] = sum(
        len(t.encode()) for t in tables["documents"].column("text").to_pylist())
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    print(json.dumps(generate(int(sys.argv[1]), sys.argv[2]), sort_keys=True))
