"""Deterministic TPC-H-shaped parquet tables for the benchmark.

The engine's TPC-H texts (``plans/presto_sql.py``) are written against a
reduced star schema: the column subset and value domains below (nation
names ``NATION_<k>``, six ``p_type`` values, ``p_name`` as adjective +
noun, dates 1995-2001 stored as TIMESTAMP).  This module draws those
tables from a fixed seed with NumPy and writes one parquet file per
table, so every checkout builds byte-identical inputs without reading
anything outside it.  The data is a fixed fixture, like dbgen output;
the run seed varies the statements, not the tables.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240611
# bump when the generator changes so cached copies are rebuilt
VERSION = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]

_ORDER_START = dt.datetime(1995, 1, 1)
_ORDER_DAYS = (dt.datetime(2001, 8, 1) - _ORDER_START).days
_SHIP_START = dt.datetime(1995, 1, 2)
_SHIP_DAYS = (dt.datetime(2001, 11, 4) - _SHIP_START).days

TABLES = ("region", "nation", "supplier", "customer", "part", "orders", "lineitem")


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, pa.array(values)).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.datetime, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + offs, pa.timestamp("us"))


def sizes(scale: float) -> dict[str, int]:
    """Row count of each table at ``scale`` (1.0 = 6M lineitem rows)."""
    orders = max(1_500, int(1_500_000 * scale))
    return {
        "region": 5, "nation": 25,
        "supplier": max(10, int(10_000 * scale)),
        "customer": max(150, int(150_000 * scale)),
        "part": max(200, int(200_000 * scale)),
        "orders": orders, "lineitem": 4 * orders,
    }


def build_tables(scale: float) -> dict[str, pa.Table]:
    """The seven tables at ``scale``."""
    rng = np.random.default_rng(DATA_SEED)
    n = sizes(scale)
    n_supp, n_cust, n_part = n["supplier"], n["customer"], n["part"]
    n_ord, n_line = n["orders"], n["lineitem"]
    keys = np.arange

    region = pa.table({
        "r_regionkey": pa.array(keys(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(keys(25), pa.int32()),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array(keys(25) % 5, pa.int32()),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(keys(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    customer = pa.table({
        "c_custkey": pa.array(keys(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    adj = rng.integers(0, len(ADJECTIVES), n_part)
    noun = rng.integers(0, len(NOUNS), n_part)
    part = pa.table({
        "p_partkey": pa.array(keys(n_part), pa.int64()),
        "p_name": pa.array(
            [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(adj, noun)]
        ),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
        ),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys(n_part) % 1000) / 10.0, 2),
    })
    orders = pa.table({
        "o_orderkey": pa.array(keys(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, _ORDER_START, _ORDER_DAYS, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, _SHIP_START, _SHIP_DAYS, n_line),
    })
    return {
        "region": region, "nation": nation, "supplier": supplier,
        "customer": customer, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def ensure(root: str, scale: float) -> str:
    """Directory of ``<table>.parquet`` files at ``scale`` under ``root``,
    generated on first use and reused afterwards."""
    out = os.path.join(root, f"sf{scale:g}-v{VERSION}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
