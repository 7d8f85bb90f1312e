"""Seeded replica of the star-schema + events + documents + embeddings
tables the query catalog reads (`<dir>/<table>.parquet`, one file each).

Column names, parquet types, row counts and value shapes follow the
testdata of TESTDATA.md (TPC-H-ish star schema with 2-decimal money, a 30-day
event stream stored as TIMESTAMP(MICROS) without UTC adjustment, a
30-word synthetic corpus with 5% " dup" near-copies, random unit-norm
64-d embeddings); perfbench/README.md records how the two were compared
(match_testdata.py). Every table draws from its own numpy stream keyed
by (seed, table), so the same seed gives byte-identical tables whatever
subset is generated.

Run as a script to write one scale:  python3 inputs.py <dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.148, 0.148, 0.144]


def _rng(seed, table):
    return np.random.default_rng([seed, TABLES.index(table)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def build(table, sf, seed):
    rng = _rng(seed, table)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord = int(1500000 * sf)
    if table == "region":
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if table == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if table == "customer":
        return pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -1000, 10000, n_cust),
            "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust)})
    if table == "supplier":
        return pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -1000, 10000, n_supp)})
    if table == "part":
        adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
        noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
        return pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": _pick(rng, [f"{a} {b}" for a in adj for b in noun], n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                  "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1)})
    if table == "orders":
        return pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    if table == "lineitem":
        n = int(6000000 * sf)
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)})
    if table == "events":
        n = int(1000000 * sf)
        start = np.datetime64("2024-01-01T00:00:00", "us")
        offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
        return pa.table({
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, int(15000 * sf), n), pa.int64()),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string())})
    if table == "documents":
        n = int(50000 * sf)
        texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(n)]
        # 5% near-duplicates: another document's text plus one marker word
        for i in sorted(rng.choice(n, n // 20, replace=False)):
            j = rng.integers(0, n - 1)
            texts[i] = texts[j + (j >= i)] + " dup"
        return pa.table({
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    if table == "embeddings":
        n = max(500, int(20000 * sf))
        v = rng.standard_normal((n, 64)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return pa.table({
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    raise ValueError(table)


def write(out_dir, sf, seed, tables=TABLES):
    os.makedirs(out_dir, exist_ok=True)
    for t in tables:
        pq.write_table(build(t, sf, seed), os.path.join(out_dir, f"{t}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
