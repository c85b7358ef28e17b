"""Seeded TPC-H-shaped tables plus an `events` stream table, at sf0.1 size.

Same table names, column names and types, key ranges and value domains as
the repo's sf0.1 test tables, so the query catalog runs on them unchanged;
the values are drawn from the seed. One parquet file per table.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
         "lineitem": 600000, "events": 100000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["large", "hot", "blue", "small", "red", "cold", "green", "dark"]
NOUNS = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    n = SIZES
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    k = np.arange(n["customer"])
    out["customer"] = pa.table({
        "c_custkey": k, "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(k)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, len(k))]})
    k = np.arange(n["supplier"])
    out["supplier"] = pa.table({
        "s_suppkey": k, "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(k))})
    k = np.arange(n["part"])
    names = np.array([f"{a} {b}" for a in ADJECTIVES for b in NOUNS])
    out["part"] = pa.table({
        "p_partkey": k, "p_name": names[rng.integers(0, len(names), len(k))],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, len(k))],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, len(k))],
        "p_size": rng.integers(1, 51, len(k)).astype(np.int32),
        "p_retailprice": np.round(900 + (k % 1000) / 10, 1)})
    k = np.arange(n["orders"])
    out["orders"] = pa.table({
        "o_orderkey": k, "o_custkey": rng.integers(0, n["customer"], len(k)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, len(k))],
        "o_totalprice": _money(rng, 1000, 500000, len(k)),
        "o_orderdate": _days(rng, "1995-01-01", 2405, len(k)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, len(k))]})
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": _days(rng, "1995-01-02", 2499, m)})
    e = n["events"]
    start = np.datetime64(datetime.datetime(2024, 1, 1), "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    out["events"] = pa.table({
        "event_id": np.arange(e), "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, e),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(60.0, e), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, e)]})
    return out


def write(seed, directory):
    os.makedirs(directory, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(directory, f"{name}.parquet"))
