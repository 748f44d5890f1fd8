"""Seeded TPC-H-shaped parquet tables for the ``sql_tpch`` workload.

Same table and column names, types and value domains as the suite's
star schema (sources/registry.py), generated from a seed so the
benchmark needs no data outside its checkout.  Only the tables the
benchmarked queries read are written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem")

_DAY0 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _DAY0).astype(int))


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n: int) -> np.ndarray:
    return np.asarray(values)[rng.integers(0, len(values), n)]


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((_DAY0 + days).astype("datetime64[us]"))


def write_tables(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table in TABLES;
    returns the row count of each."""
    rng = np.random.default_rng(seed)
    n_orders = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)

    order_day = rng.integers(0, _ORDER_DAYS + 1, n_orders)
    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_lines = len(l_order)
    starts = np.repeat(np.cumsum(lines) - lines, lines)

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(
                rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(_pick(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                      "MACHINERY"], n_cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(
                rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(_pick(
                rng, [f"{a} {b}" for a in ("blue", "cold", "hot", "large",
                                           "old", "red", "small", "tiny")
                      for b in ("bolt", "gear", "nut", "plate", "ring",
                                "screw", "spring", "valve")], n_part)),
            "p_brand": pa.array(_pick(
                rng, [f"Brand#{i}" for i in range(1, 26)], n_part)),
            "p_type": pa.array(_pick(
                rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"], n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(_cents(rng, 900.0, 999.9, n_part)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
            "o_orderstatus": pa.array(_pick(rng, ["O", "F", "P"], n_orders)),
            "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n_orders)),
            "o_orderdate": _ts(order_day),
            "o_orderpriority": pa.array(_pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"], n_orders)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(l_order),
            "l_partkey": pa.array(rng.integers(0, n_part, n_lines)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines)),
            "l_linenumber": pa.array(
                (np.arange(n_lines) - starts + 1).astype(np.int32)),
            "l_quantity": pa.array(
                rng.integers(1, 51, n_lines).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, n_lines)),
            "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
            "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_lines)),
            "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_lines)),
            "l_shipdate": _ts(order_day[l_order]
                              + rng.integers(1, 122, n_lines)),
        }),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
