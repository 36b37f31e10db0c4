"""Seeded synthetic star schema for the query workload.

Writes the four tables the benchmark's queries scan (``TABLES``) as one
``<table>.parquet`` file each, with the column names and parquet types of
``schemas.TESTDATA_SCHEMAS``.  Row counts scale with ``sf`` like the
TPC-H-shaped fixtures (lineitem ≈ 6·10⁶·sf).  The same seed gives
byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
TABLES = ["customer", "supplier", "lineitem", "events"]


def _days(rng, n: int, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + (rng.integers(0, span + 1, n) * 86_400_000_000).astype("timedelta64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(int(150_000 * sf), 30), max(int(10_000 * sf), 10)
    n_part, n_ord = max(int(200_000 * sf), 40), max(int(1_500_000 * sf), 300)
    n_line, n_ev = max(int(6_000_000 * sf), 1200), max(int(1_000_000 * sf), 200)
    n_users = max(n_cust // 10, 20) if sf < 0.01 else 150

    i32, i64 = np.int32, np.int64
    customer = {
        "c_custkey": np.arange(n_cust, dtype=i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
    }
    supplier = {
        "s_suppkey": np.arange(n_supp, dtype=i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }
    retailprice = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    partkey = rng.integers(0, n_part, n_line).astype(i64)
    lineitem = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(i64),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(i64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retailprice[partkey] * rng.uniform(0.02, 2.1, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    }
    ts_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    events = {
        "event_id": np.arange(n_ev, dtype=i64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(i64),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)],
        "value": _money(rng, n_ev, 0.01, 500.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    cols = {"customer": customer, "supplier": supplier, "lineitem": lineitem, "events": events}
    return {name: pa.table(cols[name]) for name in TABLES}


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")

