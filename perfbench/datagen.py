"""Seeded synthetic inputs for the benchmark.

Every table has the shape of the TPC-H-style tables the engine's query
registry reads (``orders``, ``lineitem``, ``customer``).  The seed changes
only values; row counts, key spaces and the number of line items per
order are fixed functions of the scale, so two seeds give inputs of
identical size.
"""

from __future__ import annotations

import datetime as dt
from typing import Dict

import numpy as np
import pyarrow as pa

EPOCH_DAY = dt.date(1995, 1, 1)
ORDER_DAYS = 2500  # distinct order dates from EPOCH_DAY: 1995-01-01 .. 2001-11-04
ORDER_YEARS = list(range(1995, 2002))
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
RETURNFLAGS = np.array(["A", "N", "R"])
LINESTATUS = np.array(["F", "O"])


def sizes(sf: float) -> Dict[str, int]:
    """Row counts at scale ``sf`` (sf 0.1: 150k orders, ~600k line items)."""
    return {
        "orders": int(1_500_000 * sf),
        "customer": int(150_000 * sf),
        "part": int(200_000 * sf),
        "supplier": int(10_000 * sf),
    }


def lines_per_order(n_orders: int) -> np.ndarray:
    """1..7 line items per order (mean 4), from the order key alone, so
    the line-item count never depends on the seed."""
    k = np.arange(n_orders, dtype=np.uint64)
    return (1 + ((k * np.uint64(2654435761)) % np.uint64(2**32)) % np.uint64(7)).astype(np.int64)


def _days_to_ts(days: np.ndarray) -> np.ndarray:
    return (np.datetime64(EPOCH_DAY, "D") + days.astype("timedelta64[D]")).astype("datetime64[us]")


def orders_table(rng: np.random.Generator, sf: float) -> pa.Table:
    """Order dates and customers are seeded permutations of fixed
    multisets: every date window and every customer selects the same
    number of orders whatever the seed (each customer has 10 orders)."""
    s = sizes(sf)
    n = s["orders"]
    days = np.arange(n, dtype=np.int64) * ORDER_DAYS // n
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.permutation(np.arange(n, dtype=np.int64) % s["customer"]),
        "o_orderstatus": STATUSES[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n), 2),
        "o_orderdate": _days_to_ts(rng.permutation(days)),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
    })


def lineitem_table(rng: np.random.Generator, orders: pa.Table, sf: float) -> pa.Table:
    s = sizes(sf)
    per = lines_per_order(orders.num_rows)
    okeys = np.repeat(orders.column("o_orderkey").to_numpy(), per)
    odays = np.repeat(
        (orders.column("o_orderdate").to_numpy() - np.datetime64(EPOCH_DAY, "us"))
        // np.timedelta64(1, "D"),
        per,
    )
    m = len(okeys)
    starts = np.repeat(np.cumsum(per) - per, per)
    return pa.table({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, s["part"], m),
        "l_suppkey": rng.integers(0, s["supplier"], m),
        "l_linenumber": (np.arange(m) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": RETURNFLAGS[rng.integers(0, 3, m)],
        "l_linestatus": LINESTATUS[rng.integers(0, 2, m)],
        "l_shipdate": _days_to_ts(odays + rng.integers(1, 122, m)),
    })


def customer_table(rng: np.random.Generator, sf: float) -> pa.Table:
    n = sizes(sf)["customer"]
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": np.char.add("Customer#", np.char.zfill(keys.astype(str), 9)),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n)],
    })


def tpch_tables(seed: int, sf: float) -> Dict[str, pa.Table]:
    """``orders``, ``lineitem`` and ``customer`` at scale ``sf``."""
    rng = np.random.default_rng([seed, 1])
    orders = orders_table(rng, sf)
    return {
        "orders": orders,
        "lineitem": lineitem_table(rng, orders, sf),
        "customer": customer_table(rng, sf),
    }


def nested_orders(orders: pa.Table, lineitem: pa.Table) -> pa.Table:
    """Orders with each order's line items as a ``lineitems`` list column
    (line items are generated grouped by order, in key order)."""
    per = lines_per_order(orders.num_rows)
    offsets = pa.array(np.concatenate([[0], np.cumsum(per)]).astype(np.int32))
    items = pa.StructArray.from_arrays(
        [lineitem.column(c).combine_chunks() for c in lineitem.column_names if c != "l_orderkey"],
        [c for c in lineitem.column_names if c != "l_orderkey"],
    )
    return orders.append_column("lineitems", pa.ListArray.from_arrays(offsets, items))
