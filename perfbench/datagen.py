"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-shaped star schema plus the ``events`` stream table that
the package's loaders read (``sources.tables.load_table``), one parquet
file each, with the column names, types and value domains of the
project's reference test data.  The same ``(seed, sf)`` always gives the
same bytes of data, so every run of a workload reads identical inputs.

Sizes at ``sf``: lineitem 6M×sf rows, orders 1.5M×sf, customer 150k×sf,
part 200k×sf, supplier 10k×sf, events 1M×sf.  At sf0.1 the files total
about 17 MB.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

NATIONS = 25
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = (("blue", "cold", "hot", "large", "old", "red", "small", "tiny"),
              ("bolt", "gear", "nut", "plate", "ring", "rod", "screw", "spring"))
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _days(rng, start, end, n):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    off = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + off).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> "dict[str, pd.DataFrame]":
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))

    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(len(REGIONS), dtype=np.int32),
        "r_name": list(REGIONS),
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(NATIONS, dtype=np.int32),
        "n_name": [f"NATION_{k}" for k in range(NATIONS)],
        "n_regionkey": (np.arange(NATIONS) % len(REGIONS)).astype(np.int32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, NATIONS, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": rng.integers(0, NATIONS, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = _pick(rng, PART_WORDS[0], n_part)
    noun = _pick(rng, PART_WORDS[1], n_part)
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    # events arrive in time order over 30 days, whole-microsecond stamps
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": _money(rng, 0.0, 560.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> "dict[str, int]":
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, df in make_tables(seed, sf).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=len(df))
        rows[name] = len(df)
    return rows
