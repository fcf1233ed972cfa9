"""Seeded generator of the query catalog's ten input tables.

The tables have the column names, parquet types and value ranges of the
deterministic testdata described in TESTDATA.md and FIXTURES.md §B, at
scale factor `sf` (lineitem = 6 M x sf rows), one file and one row group
per table. What the query families rely on is kept:

- foreign keys are drawn uniformly over their parent table, so some
  orders have no lineitem and some customers no orders (anti-joins and
  outer joins have work to do);
- documents draw 10..100 words from the testdata's 30-word vocabulary;
  about 5% are near duplicates of an earlier document (one `dup` token
  inserted) and 0.2% exact copies, so the dedup and near-dup families
  find clusters;
- embeddings are unit-norm 64-dim float vectors with ten labels;
- events cover January 2024 at microsecond precision with exponential
  values, 100 distinct JSON props and 5 event types;
- timestamps are tz-naive microseconds, i.e. parquet
  TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
  TIMESTAMP_NTZ exactly as it reads the testdata.

Usage: python3 perfbench/gen_catalog.py <out_dir> <sf> <seed>
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]


def days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def money(rng, lo, span, n):
    return np.round(lo + rng.random(n) * span, 2)


def write(out, sf, seed):
    rng = np.random.default_rng(seed)
    n = lambda base: max(10, int(round(base * sf)))
    n_cust, n_supp, n_part = n(150000), n(10000), n(200000)
    n_orders, n_line, n_events = n(1500000), n(6000000), n(1000000)
    n_docs, n_vecs = n(50000), n(20000)
    i32, i64 = pa.int32(), pa.int64()
    tables = {}
    tables["region"] = {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}
    tables["nation"] = {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, i32)}
    tables["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(rng, -999.99, 10999.79, n_cust),
        "c_mktsegment": pick(rng, ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                   "FURNITURE"], n_cust)}
    tables["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(rng, -999.99, 10999.0, n_supp)}
    adjectives = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
    nouns = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
    tables["part"] = {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{adjectives[a]} {nouns[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pick(rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) * 0.1, 1)}
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(n_orders), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": money(rng, 1001.0, 498990.0, n_orders),
        "o_orderdate": days(rng, "1995-01-01", 2404, n_orders),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                      "5-LOW"], n_orders)}
    tables["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.5, 104099.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(rng, ["N", "A", "R"], n_line),
        "l_linestatus": pick(rng, ["O", "F"], n_line),
        "l_shipdate": days(rng, "1995-01-02", 2498, n_line)}
    month_us = 31 * 86400 * 10**6
    tables["events"] = {
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, month_us, n_events))
        .astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(10, int(round(15000 * sf))), n_events), i64),
        "event_type": pick(rng, ["signup", "click", "error", "view", "purchase"], n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])}
    texts = []
    for d in range(n_docs):
        kind = rng.integers(0, 1000)
        if d > 0 and kind < 52:
            words = texts[rng.integers(0, d)].split(" ")
            if kind >= 2:
                words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), rng.integers(10, 101))]
        texts.append(" ".join(words))
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts),
        "lang": pa.array(np.where(rng.random(n_docs) < 0.41, "en",
                                  np.asarray(["fr", "zh", "de", "es"])[rng.integers(0, 4, n_docs)])
                         .astype(object)),
        "source": pa.array([f"src{k % 20}" for k in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], i64)}
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32)}
    Path(out).mkdir(parents=True, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet", row_group_size=1 << 24)


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
