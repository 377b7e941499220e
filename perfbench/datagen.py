"""Seeded generator for the benchmark's input tier.

Writes one parquet file per table with the schemas the engine reads
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) at the row counts of the TPC-H-style sf0.1 tier
(600k lineitem rows, 100k events). Row counts are constants; the seed
changes values only: key draws, dates, prices, and how many check
violations each table carries. The same seed always gives byte-identical
files.

``events.ts`` is written as parquet TIMESTAMP(NANOS), the representation
the engine's events readers convert from (``catalog._fix_events_ts``,
``streaming.pipeline.events_stream``); every other timestamp is MICROS.

Injected violations (counts drawn from the seed, sizes unchanged):
- orders: statuses outside {O, F, P}, priorities failing ``^[1-5]-``,
  customer keys with no customer row, and exact duplicate order rows;
- lineitem: discounts are drawn from 0.00..0.10, so the suite's
  0.00..0.05 range check always finds violations.
No NULL keys are injected: the validation DAG's raw gate must pass.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
WORDS = ("big", "blue", "bolt", "fast", "hot", "large", "ring", "small")

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_USERS = 1_500
N_SIDE = 100  # documents / embeddings: no workload reads their rows

EVENTS_START = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
ORDER_START = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # through 2001-08-01


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_to_ts(days: np.ndarray, start: np.datetime64) -> pa.Array:
    return pa.array((start + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> tuple[pa.Table, dict]:
    key = np.arange(n, dtype=np.int64)
    cust = rng.integers(0, n_cust, n).astype(np.int64)
    status = np.array(STATUSES, dtype=object)[rng.integers(0, 3, n)]
    prio = np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n)]
    date_days = rng.integers(0, ORDER_DAYS, n)
    price = _money(rng, 900.0, 500000.0, n)
    n_bad = {
        "bad_status": int(rng.integers(1, 25)),
        "bad_priority": int(rng.integers(1, 25)),
        "orphan_customer": int(rng.integers(1, 25)),
        "duplicate_key": int(rng.integers(1, 25)),
    }
    rows = rng.choice(n, size=sum(n_bad.values()) * 2, replace=False)
    cut = np.cumsum([0, *n_bad.values()])
    status[rows[cut[0]:cut[1]]] = "X"
    prio[rows[cut[1]:cut[2]]] = "URGENT"
    cust[rows[cut[2]:cut[3]]] = n_cust + np.arange(cut[3] - cut[2])
    # exact copies of other rows: duplicates that every join sees the same
    dst, src = rows[cut[3]:cut[4]], rows[cut[4]:cut[4] + (cut[4] - cut[3])]
    for col in (key, cust, status, prio, date_days, price):
        col[dst] = col[src]
    table = pa.table(
        {
            "o_orderkey": key,
            "o_custkey": cust,
            "o_orderstatus": pa.array(status),
            "o_totalprice": price,
            "o_orderdate": _days_to_ts(date_days, ORDER_START),
            "o_orderpriority": pa.array(prio),
        }
    )
    return table, n_bad


def _lineitem(
    rng: np.random.Generator, n: int, n_orders: int, n_part: int, n_supp: int
) -> pa.Table:
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n),
            "l_linestatus": _pick(rng, ("F", "O"), n),
            "l_shipdate": _days_to_ts(rng.integers(1, ORDER_DAYS + 95, n), ORDER_START),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    span_us = EVENT_DAYS * 86_400_000_000
    offsets_us = np.sort(rng.integers(0, span_us, n))
    ts = np.datetime64(EVENTS_START, "ns") + (offsets_us * 1000).astype("timedelta64[ns]")
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": _money(rng, 0.0, 560.0, n),
            "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
        }
    )


def generate(out_dir: str, seed: int) -> dict:
    """Write the tier into ``out_dir``; return a manifest of row counts and
    injected violation counts."""
    rng = np.random.default_rng(seed)

    orders, injected = _orders(rng, N_ORDERS, N_CUSTOMER)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": list(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
                "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
                "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
                "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(N_PART, dtype=np.int64),
                "p_name": [
                    f"{WORDS[a]} {WORDS[b]}"
                    for a, b in rng.integers(0, len(WORDS), (N_PART, 2)).tolist()
                ],
                "p_brand": [f"Brand#{v}" for v in rng.integers(1, 26, N_PART).tolist()],
                "p_type": _pick(rng, PART_TYPES, N_PART),
                "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2),
            }
        ),
        "orders": orders,
        "lineitem": _lineitem(rng, N_LINEITEM, N_ORDERS, N_PART, N_SUPPLIER),
        "events": _events(rng, N_EVENTS, N_USERS),
        "documents": pa.table(
            {
                "doc_id": np.arange(N_SIDE, dtype=np.int64),
                "text": [" ".join(WORDS[: 1 + i % 8]) for i in range(N_SIDE)],
                "lang": _pick(rng, ("de", "en", "fr"), N_SIDE),
                "source": [f"src{i % 20}" for i in range(N_SIDE)],
                "n_chars": np.array(
                    [len(" ".join(WORDS[: 1 + i % 8])) for i in range(N_SIDE)],
                    dtype=np.int64,
                ),
            }
        ),
        "embeddings": pa.table(
            {
                "vec_id": np.arange(N_SIDE, dtype=np.int64),
                "embedding": pa.array(
                    rng.normal(0.0, 0.1, (N_SIDE, 64)).astype(np.float32).tolist(),
                    pa.list_(pa.float32()),
                ),
                "label": rng.integers(0, 10, N_SIDE).astype(np.int32),
            }
        ),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), version="2.6")
    return {
        "rows": {name: t.num_rows for name, t in tables.items()},
        "injected": injected,
    }


def write_events_mart(tier: str, mart: str) -> int:
    """Write the daily events mart that ``incremental_refresh_pipeline``
    maintains (one ``p_date=YYYY-MM-DD`` directory per event day; columns
    ``d``, ``event_type``, ``event_count``, ``total_value`` with the types
    Spark writes), computed from ``tier``'s events with pyarrow, so the
    measured process does no Spark work before its first op. Returns the
    number of partitions."""
    events = pq.read_table(os.path.join(tier, "events.parquet"), columns=["ts", "event_type", "value"])
    units = pc.floor(pc.add(pc.multiply(events["value"], 10_000.0), 0.5)).cast(pa.int64())
    daily = (
        pa.table({"d": pc.cast(events["ts"], pa.date32()), "event_type": events["event_type"], "units": units})
        .group_by(["d", "event_type"])
        .aggregate([("units", "count"), ("units", "sum")])
        .sort_by([("d", "ascending"), ("event_type", "ascending")])
    )
    schema = pa.schema(
        [
            ("d", pa.date32()),
            ("event_type", pa.string()),
            pa.field("event_count", pa.int64(), nullable=False),
            ("total_value", pa.float64()),
        ]
    )
    days = daily["d"].to_pylist()
    for day in sorted(set(days)):
        part = daily.filter(pc.equal(daily["d"], pa.scalar(day, pa.date32())))
        rows = pa.table(
            [
                part["d"],
                part["event_type"],
                part["units_count"],
                pa.array([round(u / 10_000, 2) for u in part["units_sum"].to_pylist()]),
            ],
            schema=schema,
        )
        out = os.path.join(mart, f"p_date={day.isoformat()}")
        os.makedirs(out)
        pq.write_table(rows, os.path.join(out, "part-00000.parquet"))
    return len(set(days))
