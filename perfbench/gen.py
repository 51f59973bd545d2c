"""Seeded synthetic inputs for the benchmark.

Every table has the schema of the project's TPC-H-style fixtures (one
parquet file per table, the layout `Relational` reads through
`<dir>/<name>.parquet`). The same seed gives the same rows. Value
distributions follow the fixture shapes the registry queries' predicates
were written against (prices around 900-1000, dates 1995-2001).
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

EPOCH = dt.datetime(1970, 1, 1)
DATE_LO = (dt.datetime(1995, 1, 1) - EPOCH).days
DATE_HI = (dt.datetime(2001, 8, 1) - EPOCH).days


def _days_to_ts(days):
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def tpch_tables(seed, sf):
    """The seven TPC-H-style tables as {name: pyarrow.Table}. Row counts
    scale like the fixtures: lineitem ~ 6M * sf, orders 1.5M * sf."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    t["orders"], odate = orders(rng, n_ord, n_cust)
    n_lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype="int64"), n_lines)
    n_li = len(okey)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    price = 900.0 + (partkey % 1000) / 10.0
    ship = np.clip(np.repeat(odate, n_lines) + rng.integers(1, 122, n_li), None, DATE_HI + 95)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days_to_ts(ship)})
    return t


def orders(rng, n_ord, n_cust):
    """The orders table and its order dates in days since the epoch."""
    odate = rng.integers(DATE_LO, DATE_HI + 1, n_ord)
    return pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days_to_ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}), odate


def sharded_orders(seed, n_ord, n_shards):
    """Orders with a `shard` column (key modulo the shard count)."""
    tbl, _ = orders(np.random.default_rng([seed, 4]), n_ord, 15_000)
    shard = (np.arange(n_ord) % n_shards).astype("int32")
    return tbl.append_column("shard", pa.array(shard, pa.int32()))


def write_tables(out_dir, tables):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def split_batches(tbl, n_batches):
    """Contiguous row slices: batch i holds rows [i*n/k, (i+1)*n/k)."""
    n = tbl.num_rows
    cuts = [n * i // n_batches for i in range(n_batches + 1)]
    return [tbl.slice(cuts[i], cuts[i + 1] - cuts[i]) for i in range(n_batches)]
