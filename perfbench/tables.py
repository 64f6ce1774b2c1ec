"""Seeded generator of the TPC-H-ish input tables the query mix reads.

The tables follow the schema and value distributions of the engine's
testdata (uniform foreign keys, exponential event gaps), at a chosen scale
factor, one parquet file per table: `<out>/<table>.parquet`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

def _ts(days_from, days_span, n, rng):
    base = np.datetime64("1995-01-01", "us") + np.timedelta64(days_from, "D")
    days = rng.integers(0, days_span, n)
    return base + days.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, sf, seed, value_seed):
    """Write every table for scale factor `sf` under `out`; returns sizes.

    `seed` draws keys, dates and texts (the shape every query's plan and
    round count follows); `value_seed` draws the value columns.
    """
    rng = np.random.default_rng(seed)
    val = np.random.default_rng(value_seed)
    os.makedirs(out, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(val, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(val, -999.99, 9999.99, n_supp)})
    adj = np.array("blue old hot large cold red small new".split())
    noun = np.array("ring gear widget gizmo bolt plate anvil rod".split())
    ptype = np.array("ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split())
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptype[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(val, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(0, 2404, n_ord, rng),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    qty = val.integers(1, 51, n_li).astype(np.float64)
    partkey = rng.integers(0, n_part, n_li)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey]
                                    * val.uniform(0.5, 2.5, n_li), 2),
        "l_discount": np.round(val.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(val.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(1, 2498, n_li, rng)})
    gaps = rng.exponential(259.2e6, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    etype = np.array(["click", "signup", "error", "view", "purchase"])
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, int(15_000 * sf)), n_ev),
                            pa.int64()),
        "event_type": etype[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(val.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in val.integers(0, 100, n_ev)]})
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(t, path)
        sizes[name] = os.path.getsize(path)
    return sizes
