"""Seeded TPC-H-ish tables for the read-side workload.

Same table names, column names, types and value domains as the catalog's
test tables (``region nation customer supplier part orders lineitem
events``), drawn from a seed at a chosen scale factor, so the catalog rows and
their DuckDB oracles run on them unchanged. Row counts follow the catalog's
scaling: lineitem 6M x sf, orders 1.5M x sf, part 200k x sf, customer
150k x sf, supplier 10k x sf, events 1M x sf over 15k x sf users.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJECTIVES = ("small", "red", "blue", "hot", "old", "large", "green", "cold")
NOUNS = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "valve", "spring")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def _us(d: dt.datetime) -> int:
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _days(rng, n: int, first: dt.date, last: dt.date) -> pa.Array:
    """Midnight timestamps drawn uniformly from [first, last]."""
    base = _us(dt.datetime.combine(first, dt.time()))
    span = (last - first).days + 1
    return pa.array(base + rng.integers(0, span, size=n) * 86_400_000_000, pa.timestamp("us"))


def _pick(rng, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(values).take(pa.array(rng.integers(0, len(values), size=n)))


def _money(rng, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, size=n), 2))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def build(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 8])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev, n_users = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    i32 = lambda hi, n: pa.array(rng.integers(0, hi, size=n, dtype=np.int32))  # noqa: E731
    i64 = lambda lo, hi, n: pa.array(rng.integers(lo, hi, size=n, dtype=np.int64))  # noqa: E731
    keys = lambda n: pa.array(np.arange(n, dtype=np.int64))  # noqa: E731

    out = {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": keys(n_cust), "c_name": _names("Customer", n_cust), "c_nationkey": i32(25, n_cust),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust), "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": keys(n_supp), "s_name": _names("Supplier", n_supp), "s_nationkey": i32(25, n_supp),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": keys(n_part),
            "p_name": pa.array([f"{a} {b}" for a in ADJECTIVES for b in NOUNS]).take(
                pa.array(rng.integers(0, len(ADJECTIVES) * len(NOUNS), size=n_part))),
            "p_brand": pa.array([f"Brand#{i}" for i in range(1, 26)]).take(pa.array(rng.integers(0, 25, size=n_part))),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, size=n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": keys(n_ord), "o_custkey": i64(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": i64(0, n_ord, n_line), "l_partkey": i64(0, n_part, n_line),
            "l_suppkey": i64(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_line, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, size=n_line).astype(np.float64)),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": pa.array(np.round(rng.integers(0, 11, size=n_line) / 100, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, size=n_line) / 100, 2)),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }),
    }
    # events arrive in time order: event_id follows ts
    t0 = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, size=n_ev))
    out["events"] = pa.table({
        "event_id": keys(n_ev), "ts": pa.array(ts, pa.timestamp("us")), "user_id": i64(0, n_users, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev), "value": _money(rng, 0.0, 500.0, n_ev),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)]),
    })
    return out


def write(seed: int, sf: float, out_dir: str) -> int:
    """Write every table as ``out_dir/<name>.parquet``; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in build(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
