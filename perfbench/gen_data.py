#!/usr/bin/env python3
"""Generate the benchmark's input tables: a TPC-H-like star schema plus
`events`, `documents` and `embeddings`, one parquet file per table.

The shapes follow the fixture tables the program's queries are written
for (column names and types, key ranges, value distributions, 5% planted
near-duplicate documents). The data seed is fixed, so every checkout gets
byte-identical inputs and the expected fingerprints in `expected.json`
stay valid; the benchmark's `--seed` only permutes the query order.

Usage: python3 perfbench/gen_data.py <out_dir> [scale]   (scale default 0.01)
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()


def _round2(x):
    return np.round(x, 2)


def _days(rng, n, first, span):
    base = np.datetime64(first, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def tables(scale):
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * scale)
    n_supp = max(1, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_evt = int(1_000_000 * scale)
    n_user = max(1, int(15_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    i32, i64 = pa.int32(), pa.int64()

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_supp))})
    adjs = np.array("blue cold hot large new old red small".split())
    nouns = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": np.char.add(np.char.add(adjs[rng.integers(0, 8, n_part)], " "),
                              nouns[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _round2(rng.uniform(1000, 500000, n_ord)),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2400),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _round2(rng.uniform(900, 105000, n_line)),
        "l_discount": _round2(rng.uniform(0, 0.1, n_line)),
        "l_tax": _round2(rng.uniform(0, 0.08, n_line)),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2500)})
    # events: a Poisson arrival stream over 30 days, ordered by event_id
    gaps_us = rng.exponential(30 * 86400e6 / n_evt, n_evt)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype("timedelta64[us]")
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": etypes[rng.integers(0, 5, n_evt)],
        "value": np.maximum(0.01, _round2(rng.exponential(50, n_evt))),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    # documents: random word sequences; 5% are another document plus " dup"
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 100))])
             for _ in range(n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    langs = np.array(["en", "de", "es", "fr", "zh"])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": langs[rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    # embeddings: unit vectors in 64 dimensions with a random label 0..9
    vec = rng.normal(size=(n_emb, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return out


def generate(out_dir, scale):
    """Write every table to `out_dir`; returns {table: row count}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in tables(scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


if __name__ == "__main__":
    print(generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.01))
