"""Seeded synthetic input tables for the benchmark.

The engine's queries read one Parquet file per table (``<dir>/<name>.parquet``):
the TPC-H-like ``customer`` and ``orders`` tables and the ``events`` table.
This module writes those tables from a seed, so the benchmark carries its own
inputs: the same ``(seed, sf)`` always gives byte-identical files, and the
row counts follow the scale factor (sf 0.1: 15k customers, 150k orders,
100k events).

Only the tables the benchmark's workloads read are generated. Value domains
mirror the shapes the queries and their DuckDB oracles assume:

* ``customer.c_name`` is ``Customer#<9-digit key>`` (entity resolution
  blocks on its 6-character suffix);
* ``events.event_id`` is unique and ``ts`` increases with it (streaming
  dedup under a watermark).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_US_PER_DAY = 86_400_000_000
_ORDERS_EPOCH_US = 788_918_400_000_000  # 1995-01-01
_EVENTS_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per table, so adding a table never shifts another
    return np.random.default_rng([seed, sum(map(ord, table))])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def customer(seed: int, sf: float) -> pa.Table:
    n = int(150_000 * sf)
    rng = _rng(seed, "customer")
    return pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
        }
    )


def orders(seed: int, sf: float) -> pa.Table:
    n = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    rng = _rng(seed, "orders")
    days = rng.integers(0, 2404, n)
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
            "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": pa.array(
                _ORDERS_EPOCH_US + days * _US_PER_DAY, pa.timestamp("us")
            ),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
        }
    )


def events(seed: int, sf: float) -> pa.Table:
    n = int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    rng = _rng(seed, "events")
    # exponential inter-arrival gaps spread n events over ~30 days
    gaps = rng.exponential(30 * _US_PER_DAY / n, n).astype(np.int64) + 1
    ts = _EVENTS_EPOCH_US + np.cumsum(gaps)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


GENERATORS = {"customer": customer, "orders": orders, "events": events}


def write_tables(out_dir: str, tables: tuple[str, ...], seed: int, sf: float) -> None:
    """Write ``<out_dir>/<table>.parquet`` for each named table."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        pq.write_table(
            GENERATORS[name](seed, sf), os.path.join(out_dir, f"{name}.parquet")
        )
