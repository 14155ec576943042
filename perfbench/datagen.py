"""Seeded TPC-H-style tables for the relational workload.

The tables follow the schema the query registry reads (see TESTDATA.md):
the same column names, parquet types and value domains, so every
registered query and its DuckDB oracle run on them unchanged.  Values are
a pure function of (seed, scale factor); money, rates and quantities carry
two decimals, so the registry's integer-cents arithmetic stays exact in
both engines.
"""

from __future__ import annotations

import os

import numpy as np

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem", "events"]

_DAY_US = 86_400 * 1_000_000


def _days(date: str) -> np.datetime64:
    return np.datetime64(date, "D")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform two-decimal amounts in [lo, hi)."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_tables(seed: int, sf: float) -> dict:
    """Return {table name: pyarrow.Table} for one scale factor."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 7331])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_orders = max(1_500, int(1_500_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_users = max(50, n_events // 80)

    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )

    span = int((_days("1998-08-02") - _days("1992-01-01")) / np.timedelta64(1, "D"))
    o_date = _days("1992-01-01") + rng.integers(0, span, n_orders).astype("timedelta64[D]")
    n_lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), n_lines)
    n_li = len(l_order)
    l_number = np.arange(n_li) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1
    l_ship = np.repeat(o_date, n_lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * _money(rng, 900.0, 2100.0, n_li), 2)
    shipped = l_ship <= _days("1995-06-17")
    returnflag = np.where(shipped, np.array(["R", "A"])[rng.integers(0, 2, n_li)], "N")
    linestatus = np.where(l_ship > _days("1995-06-17"), "O", "F")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, max(200, int(200_000 * sf)), n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_number, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": returnflag,
            "l_linestatus": linestatus,
            "l_shipdate": pa.array(l_ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )
    # order total = its lines' gross price, in cents, so it stays two-decimal
    total_c = np.bincount(l_order, weights=np.round(price * 100), minlength=n_orders)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": total_c / 100.0,
            "o_orderdate": pa.array(o_date.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )

    # events: per-user bursts separated by gaps both under and over the
    # 30-minute session timeout
    gaps = np.where(
        rng.random(n_events) < 0.7,
        rng.integers(1, 20 * 60 * 1_000_000, n_events),
        rng.integers(40 * 60 * 1_000_000, 8 * 3600 * 1_000_000, n_events),
    )
    users = rng.integers(0, n_users, n_events)
    ts_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    order = np.argsort(users, kind="stable")
    ts = np.empty(n_events, np.int64)
    ts[order] = ts_us + np.cumsum(gaps[order]) % (90 * _DAY_US)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": _money(rng, 0.0, 500.0, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    """Write one parquet file per table (`<out_dir>/<name>.parquet`)."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
