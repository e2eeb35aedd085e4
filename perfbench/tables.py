"""Seeded generator of the relational tables the SparkEntry queries read.

Same table names, column names, types, row counts and value shapes as the
project's sf0.01 test tier (TPC-H-like star schema plus `events`,
`documents` and `embeddings`). Each shape below was measured on that tier
and is reproduced here:
- documents: 500 texts of 10-99 words drawn uniformly from a 30-word
  vocabulary; 25 of them (5%) are replaced by another doc's text with
  " dup" appended; lang is 44% en, 14% each of zh/es/de/fr;
  source = src<doc_id % 20>;
- embeddings: 500 unit vectors of 64 float32 dims, labels 0-9;
- events: 10000 events of 150 uniform users (44-88 events per user),
  microsecond timestamps sorted by event_id over 30 days of 2024,
  value exponential with mean 50 in cents (min 0.01);
- part: 8 x 8 names, 25 brands, retail price 900 + (partkey % 1000) / 10;
- lineitem: 60000 rows, extended price uniform in [900, 105000) in cents
  and independent of quantity; orders, customer and supplier uniform.
Every value is a function of the seed; each table draws from its own
stream, so changing one table's generator leaves the others unchanged.

Usage: python3 perfbench/tables.py <out_dir> <seed>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
VOCAB = ("join hash row batch scan column customer filter small slow merge order "
         "vector line data table agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def ts_us(start: dt.datetime, micros: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + micros.astype(np.int64), type=pa.timestamp("us"))


def write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def generate(out: str, seed: int) -> None:
    os.makedirs(out, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()

    write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    n, rng = ROWS["customer"], np.random.default_rng([seed, 0])
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n).tolist()})
    n, rng = ROWS["supplier"], np.random.default_rng([seed, 1])
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": money(rng, -999.99, 9999.99, n)})
    n, rng = ROWS["part"], np.random.default_rng([seed, 2])
    adj = rng.choice(["small", "large", "red", "blue", "hot", "cold", "old", "new"], n)
    noun = rng.choice(["ring", "bolt", "widget", "gear", "gizmo", "plate", "rod", "anvil"], n)
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL",
                              "MEDIUM"], n).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": 900.0 + np.arange(n) % 1000 / 10.0})

    n, rng = ROWS["orders"], np.random.default_rng([seed, 3])
    day = 86_400_000_000
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
        "o_totalprice": money(rng, 1000.0, 500000.0, n),
        "o_orderdate": ts_us(dt.datetime(1995, 1, 1), rng.integers(0, 2405, n) * day),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n).tolist()})
    n, rng = ROWS["lineitem"], np.random.default_rng([seed, 4])
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n).tolist(),
        "l_shipdate": ts_us(dt.datetime(1995, 1, 2), rng.integers(0, 2499, n) * day)})

    n, rng = ROWS["events"], np.random.default_rng([seed, 5])
    write(out, "events", {
        "event_id": pa.array(np.arange(n), i64),
        "ts": ts_us(dt.datetime(2024, 1, 1), np.sort(rng.integers(0, 30 * day, n))),
        "user_id": pa.array(rng.integers(0, 150, n), i64),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n).tolist(),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    n, rng = ROWS["documents"], np.random.default_rng([seed, 6])
    texts = [" ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(10, 100, n)]
    for i in rng.choice(n, n // 20, replace=False):  # near duplicates
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t.encode()) for t in texts], i64)})

    n, rng = ROWS["embeddings"], np.random.default_rng([seed, 7])
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32)})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
