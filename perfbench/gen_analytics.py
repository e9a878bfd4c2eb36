"""Generator of the `analytics` workload's input tables.

Writes events, lineitem, orders and embeddings as parquet files with the
schemas of the repository's fixture tables (FIXTURES.md): TIMESTAMP
columns as microseconds without a time zone, embeddings as list<float>
of 64 dimensions. The sizes and the generator seed are fixed (10,000
events, 15,000 orders, 60,000 line items, 500 embeddings), so every run
gets the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
DAY_US = 86_400_000_000
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
EPOCH_1995 = 788_918_400_000_000    # 1995-01-01T00:00:00Z
SEED = 42
EVENTS = 10_000
USERS = 150
ORDERS = 15_000
LINEITEMS = 60_000
EMBEDDINGS = 500


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def events(rng, n, users):
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def orders(rng, n):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(1, n // 10), n).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2400, n) * DAY_US),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n)]),
    })


def lineitem(rng, n, n_orders, order_dates_us):
    ok = rng.integers(0, n_orders, n).astype(np.int64)
    ship = order_dates_us[ok] + rng.integers(1, 122, n) * DAY_US
    return pa.table({
        "l_orderkey": pa.array(ok),
        "l_partkey": pa.array(rng.integers(0, 2000, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(ship),
    })


def embeddings(rng, n, dim=64):
    v = rng.normal(0, 1, (n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def generate(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(SEED)
    ords = orders(rng, ORDERS)
    dates = ords.column("o_orderdate").to_numpy().astype("datetime64[us]").astype(np.int64)
    tables = {
        "events": events(rng, EVENTS, USERS),
        "orders": ords,
        "lineitem": lineitem(rng, LINEITEMS, ORDERS, dates),
        "embeddings": embeddings(rng, EMBEDDINGS),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return {k: v.num_rows for k, v in tables.items()}
