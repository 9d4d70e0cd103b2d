"""Seeded TPC-H-shaped inputs for the benchmark (numpy + pyarrow, no Spark).

The same ``(seed, n_orders)`` always yields the same tables.  Column names,
key relationships and value domains follow TPC-H (dates 1992-01-01 ..
1998-08-02, 1-7 lineitems per order), so the benchmark's queries keep their
TPC-H shape at any size.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

EPOCH = dt.date(1970, 1, 1)
START_DAY = (dt.date(1992, 1, 1) - EPOCH).days
END_DAY = (dt.date(1998, 8, 2) - EPOCH).days
# TPC-H "current date": line status / return flag pivot
CURRENT_DAY = (dt.date(1995, 6, 17) - EPOCH).days

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]


def day(iso: str) -> int:
    """Days since the epoch of an ISO date string."""
    return (dt.date.fromisoformat(iso) - EPOCH).days


def iso(days: int) -> str:
    return (EPOCH + dt.timedelta(days=int(days))).isoformat()


def month_days(month: np.datetime64) -> tuple:
    """[first day, first day of the next month) of a datetime64[M], as epoch days."""
    return (int(month.astype("datetime64[D]").astype(np.int64)),
            int((month + 1).astype("datetime64[D]").astype(np.int64)))


# every calendar month that holds TPC-H order dates
MONTHS = np.arange(np.datetime64("1992-01"), np.datetime64("1998-08"))


def _date_array(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int32), pa.date32())


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _pick(values: list, idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def orders_columns(rng, keys: np.ndarray, n_customers: int,
                   days: np.ndarray | None = None) -> dict:
    """Orders rows for ``keys`` as numpy columns (dates as epoch days)."""
    n = len(keys)
    if days is None:
        days = rng.integers(START_DAY, END_DAY - 151, n)
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(1, n_customers + 1, n).astype(np.int64),
        "o_orderstatus": rng.integers(0, 3, n),
        "o_totalprice": _cents(rng, 900.0, 500000.0, n),
        "o_orderdate": days.astype(np.int32),
        "o_orderpriority": rng.integers(0, 5, n),
        "o_shippriority": np.zeros(n, dtype=np.int32),
    }


def orders_table(cols: dict) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(cols["o_orderkey"], pa.int64()),
        "o_custkey": pa.array(cols["o_custkey"], pa.int64()),
        "o_orderstatus": _pick(["F", "O", "P"], cols["o_orderstatus"]),
        "o_totalprice": pa.array(cols["o_totalprice"], pa.float64()),
        "o_orderdate": _date_array(cols["o_orderdate"]),
        "o_orderpriority": _pick(PRIORITIES, cols["o_orderpriority"]),
        "o_shippriority": pa.array(cols["o_shippriority"], pa.int32()),
    })


def generate(seed: int, n_orders: int) -> dict:
    """TPC-H-shaped ``orders`` and ``lineitem`` as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, n_orders // 10)
    n_supp = max(5, n_orders // 150)
    ocols = orders_columns(rng, np.arange(1, n_orders + 1), n_cust)

    per_order = rng.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    odate = np.repeat(ocols["o_orderdate"], per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    ship = odate + rng.integers(1, 122, n_li)
    receipt = ship + rng.integers(1, 31, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    unit = _cents(rng, 900.0, 2000.0, n_li)
    returned = np.where(rng.random(n_li) < 0.5, 0, 1)  # R / A
    lineitem = pa.table({
        "l_orderkey": pa.array(np.repeat(ocols["o_orderkey"], per_order), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_orders // 5 + 2, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array((np.arange(n_li) - starts + 1).astype(np.int32), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * unit, 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
        "l_returnflag": _pick(["R", "A", "N"],
                              np.where(receipt <= CURRENT_DAY, returned, 2)),
        "l_linestatus": _pick(["F", "O"], (ship > CURRENT_DAY).astype(np.int64)),
        "l_shipdate": _date_array(ship),
        "l_commitdate": _date_array(odate + rng.integers(30, 91, n_li)),
        "l_receiptdate": _date_array(receipt),
        "l_shipmode": _pick(SHIPMODES, rng.integers(0, 7, n_li)),
    })
    return {"orders": orders_table(ocols), "lineitem": lineitem}
