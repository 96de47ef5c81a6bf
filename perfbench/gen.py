"""Seeded input tables for the relational and corpus workloads.

Writes the ten tables the query catalog reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
single-row-group parquet file each, with the column names, arrow types
and value distributions of the engine's sf0.01 test tables.  The same
seed gives byte-identical tables; a different seed gives different rows
of the same shape, so no query changes plan or fails between seeds.

Usage: python3 perfbench/gen.py --seed 7 --out DIR
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.01 row counts (lineitem ~ 4 x orders, as in the test tables)
N_CUSTOMER, N_SUPPLIER, N_PART = 1500, 100, 2000
N_ORDERS, N_LINEITEM, N_EVENTS = 15000, 60000, 10000
N_USERS, N_DOCS, N_VECS, DIM = 150, 500, 500, 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
N_SOURCES = 20
DUP_FRAC = 0.05


def _write(out, name, cols, schema):
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=len(table) + 1)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n)).astype("datetime64[us]")


def generate(seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    _write(out, "region", {"r_regionkey": list(range(5)),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out, "nation", {"n_nationkey": list(range(25)),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    _write(out, "customer", {
        "c_custkey": np.arange(N_CUSTOMER),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER)},
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))

    _write(out, "supplier", {
        "s_suppkey": np.arange(N_SUPPLIER),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)},
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))

    keys = np.arange(N_PART)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, N_PART), rng.choice(NOUN, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PTYPES, N_PART),
        "p_size": rng.integers(1, 51, N_PART),
        "p_retailprice": 900 + (keys % 1000) / 10.0},
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]))

    _write(out, "orders", {
        "o_orderkey": np.arange(N_ORDERS),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS)},
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))

    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(float),
        "l_extendedprice": _money(rng, 900, 105000, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", N_LINEITEM)},
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                   ("l_linestatus", s), ("l_shipdate", ts)]))

    # one month of events in event_id order, µs timestamps
    month_us = 30 * 24 * 3600 * 10**6
    offs = np.sort(rng.integers(0, month_us, N_EVENTS))
    _write(out, "events", {
        "event_id": np.arange(N_EVENTS),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]},
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)]))

    # documents: 10-100 words of a 30-word vocabulary; ~5% are an earlier
    # document's text plus " dup" (the near-duplicate families the dedup
    # queries find), so a few exact duplicates occur as well
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 101))) for _ in range(N_DOCS)]
    for i in np.flatnonzero(rng.random(N_DOCS) < DUP_FRAC):
        texts[i] = texts[rng.integers(0, N_DOCS)].removesuffix(" dup") + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(N_DOCS),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
        "n_chars": [len(t) for t in texts]},
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))

    vecs = rng.normal(0.0, 1.0 / np.sqrt(DIM), (N_VECS, DIM)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(N_VECS),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, N_VECS)},
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.out)
