#!/usr/bin/env python3
"""Deterministic synthetic tables for the graft benchmark.

Writes the ten tables graft reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet
file each, with the schemas, value domains and shapes of the seed-42
fixture graft's tests and oracles are written against:

- the TPC-H-ish star scales linearly: 150,000 customers, 10,000
  suppliers, 200,000 parts, 1,500,000 orders and 6,000,000 lineitem rows
  per unit of scale factor (lineitem rows pick a random order, as in
  the fixture, so some orders have no lines);
- events: 1,000,000 per unit, time-ordered over 30 days of 2024, five
  event types, exponential values, one `{"k": n}` JSON prop;
- documents: bags of words over a 30-word vocabulary, 10-100 words,
  with ~5% planted near-duplicates (a copy of an earlier document with
  one word changed or ` dup` appended) so the dedup kernels find pairs;
  500 documents up to sf0.01, then 50,000 per unit;
- embeddings: isotropic unit vectors in 64 dimensions with a random
  label in 0-9; 500 up to sf0.01, growing 4x per decade above it.

The data seed is fixed, so a scale factor always yields byte-identical
values: the benchmark's expected output digests are recorded against it.

Usage: python3 gen_data.py <out_dir> <scale_factor>
"""
import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PART_ADJ = ["small", "red", "blue", "new", "hot", "cold", "large", "old"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "rod", "plate", "gear", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def table_sizes(sf: float) -> dict:
    def lin(n):
        return max(1, int(round(n * sf)))
    n_docs = 500 if sf <= 0.01 else lin(50_000)
    n_emb = 500 if sf <= 0.01 else int(round(500 * 4 ** math.log10(sf / 0.01)))
    return {"region": 5, "nation": 25, "customer": lin(150_000),
            "supplier": lin(10_000), "part": lin(200_000),
            "orders": lin(1_500_000), "lineitem": lin(6_000_000),
            "events": lin(1_000_000), "documents": n_docs,
            "embeddings": min(n_emb, n_docs)}


def days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return (d * 86_400_000_000).astype("datetime64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = [rng.integers(0, len(VOCAB), k) for k in lens]
    texts = [" ".join(VOCAB[w] for w in ws) for ws in words]
    # plant near-duplicates: a later document copies an earlier one
    n_dup = max(1, n // 21)
    targets = rng.choice(np.arange(1, n), size=min(n_dup, n - 1), replace=False)
    for t in sorted(targets):
        src = texts[int(rng.integers(0, t))].split()
        if rng.random() < 0.5:
            src.append("dup")
        else:
            src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[t] = " ".join(src)
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def main() -> int:
    out, sf = sys.argv[1], float(sys.argv[2])
    os.makedirs(out, exist_ok=True)
    n = table_sizes(sf)
    rng = np.random.default_rng(DATA_SEED)
    i32, i64 = pa.int32(), pa.int64()

    write(out, "region", {"r_regionkey": pa.array(range(5), i32),
                          "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    nc = n["customer"]
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})

    ns = n["supplier"]
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})

    npart = n["part"]
    write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)})

    no = n["orders"]
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})

    nl = n["lineitem"]
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": days(rng, nl, "1995-01-02", "2001-11-04")})

    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span, ne)) + t0
    write(out, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), ne), i64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    write(out, "documents", documents(rng, n["documents"]))

    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32)})
    return 0


if __name__ == "__main__":
    sys.exit(main())
