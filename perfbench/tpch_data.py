"""Seeded generator for the star-schema tables the TPC-H-shaped queries
in ``olap_project_spark.queries.tpch_suite`` read.

The shapes follow the repository's test data (FIXTURES.md §5): the same
column names and types, the same value domains (five regions, 25
``NATION_i`` nations, ``Brand#1..25``, six part types, 64 two-word part
names, order and ship dates spread over 1995-2001), and the same table
ratios (per scale unit: 1 500 customers, 100 suppliers, 2 000 parts,
15 000 orders, about 60 000 lines). Every value is drawn from one
``numpy`` generator seeded by the caller, so a seed names the data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_ORDER_DAY0 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = 2404  # through 2001-08-01
_SHIP_DAY0 = np.datetime64("1995-01-02", "D")
_SHIP_DAYS = 2498  # through 2001-11-04


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _days(day0: np.datetime64, offsets: np.ndarray) -> pa.Array:
    return pa.array((day0 + offsets).astype("datetime64[us]"))


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write one parquet file per table under ``out_dir``; return the
    row count of each table."""
    rng = np.random.default_rng(seed)
    n_cust = int(1500 * scale)
    n_supp = max(int(100 * scale), 25)
    n_part = int(2000 * scale)
    n_ord = int(15000 * scale)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        }
    )
    nk = np.arange(25, dtype=np.int32)
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(nk),
            "n_name": pa.array([f"NATION_{i}" for i in nk]),
            "n_regionkey": pa.array(nk % 5),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck),
            "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
            ),
            "p_type": _pick(rng, _TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1)),
        }
    )
    ok = np.arange(n_ord, dtype=np.int64)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(ok),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _days(_ORDER_DAY0, rng.integers(0, _ORDER_DAYS + 1, n_ord)),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    per_order = rng.integers(1, 8, n_ord)
    n_line = int(per_order.sum())
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(ok, per_order)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(
                (np.arange(n_line) - starts + 1).astype(np.int32)
            ),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(_SHIP_DAY0, rng.integers(0, _SHIP_DAYS + 1, n_line)),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
