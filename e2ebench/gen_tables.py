#!/usr/bin/env python3
"""Seeded generator of the star-schema test tables the registered queries
read: region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings, one snappy parquet file each, in the column
names, types and domains of the repository's test data (TESTDATA.md), with
its row counts at the given scale factor.

Content the similarity operators depend on follows the same laws: document
text draws from a 30-word vocabulary with 10-99 words per document, and 5 %
of documents are another document with " dup" appended (two that copy the
same document are exact duplicates); embeddings are 64-d float32 Gaussian
vectors scaled to unit length.

Usage: python3 gen_tables.py <out_dir> [--seed N] [--sf F]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at sf1; documents and embeddings never drop below 500.
ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000,
    "lineitem": 6_000_000, "events": 1_000_000, "documents": 50_000, "embeddings": 20_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the "
         "value vector window").split()


def days(rng, n, start, end):
    """Uniform dates in [start, end] as microsecond timestamps."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def documents(rng, n):
    texts = [" ".join(pick(rng, WORDS, int(k))) for k in rng.integers(10, 100, n)]
    for i in rng.permutation(n)[: n // 20]:
        texts[i] = texts[rng.integers(0, n)] + " dup"
    langs = np.where(rng.random(n) < 0.4, "en", pick(rng, LANGS[1:], n))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs.astype(object),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def generate(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: int(round(r * sf)) for t, r in ROWS.items()}
    n["documents"] = max(500, n["documents"])
    n["embeddings"] = max(500, n["embeddings"])
    i32, i64 = np.int32, np.int64
    write(out, "region", {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    write(out, "customer", {
        "c_custkey": np.arange(n["customer"], dtype=i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(i32),
        "c_acctbal": money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": pick(rng, SEGMENTS, n["customer"]),
    })
    write(out, "supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(i32),
        "s_acctbal": money(rng, -999.99, 9999.99, n["supplier"]),
    })
    keys = np.arange(n["part"], dtype=i64)
    write(out, "part", {
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(pick(rng, ADJECTIVES, len(keys)),
                                              pick(rng, NOUNS, len(keys)))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(keys))],
        "p_type": pick(rng, PART_TYPES, len(keys)),
        "p_size": rng.integers(1, 51, len(keys)).astype(i32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
    })
    m = n["orders"]
    write(out, "orders", {
        "o_orderkey": np.arange(m, dtype=i64),
        "o_custkey": rng.integers(0, n["customer"], m).astype(i64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], m),
        "o_totalprice": money(rng, 1000, 500000, m),
        "o_orderdate": days(rng, m, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(rng, PRIORITIES, m),
    })
    m = n["lineitem"]
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n["orders"], m).astype(i64),
        "l_partkey": rng.integers(0, n["part"], m).astype(i64),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype(i64),
        "l_linenumber": rng.integers(1, 8, m).astype(i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, m),
        "l_discount": rng.integers(0, 11, m) / 100,
        "l_tax": rng.integers(0, 9, m) / 100,
        "l_returnflag": pick(rng, ["A", "N", "R"], m),
        "l_linestatus": pick(rng, ["F", "O"], m),
        "l_shipdate": days(rng, m, "1995-01-02", "2001-11-04"),
    })
    m = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(i64)
    span = 30 * 86_400_000_000
    write(out, "events", {
        "event_id": np.arange(m, dtype=i64),
        "ts": np.sort(start + rng.integers(0, span, m)).astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, m).astype(i64),
        "event_type": pick(rng, EVENT_TYPES, m),
        "value": np.round(rng.exponential(50.0, m), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)],
    })
    write(out, "documents", documents(rng, n["documents"]))
    m = n["embeddings"]
    vecs = rng.normal(0.0, 1.0, (m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(m, dtype=i64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64)
                       .cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m).astype(i32),
    })


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--sf", type=float, default=0.1)
    a = ap.parse_args()
    generate(a.out, a.seed, a.sf)
