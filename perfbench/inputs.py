"""Seeded inputs for the benchmark.

``events`` is generated fresh from the workload seed, in arrival
(``event_id``) order, with the schema of the engine's checked-in events
table.  Every other table is a copy of the engine's checked-in sf0.01 test
table (kept under ``perfbench/data/sf0.01``) with its rows shuffled by the
seed.  The same seed always yields the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
SHUFFLED_TABLES = ("region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "documents", "embeddings")
# Parquet schema of the checked-in events table, as a file with no rows.
EVENTS_SCHEMA_FILE = os.path.join(DATA_DIR, "events.schema.parquet")

# Distribution parameters of the generated events; README.md records them.
N_EVENTS = 10_000         # the row count of the checked-in sf0.01 events table
USERS_PER_EVENT = 0.015   # 1,500 users per 100k events, as in the sf0.1 tables
USER_SKEW = 0.5           # weight of the user of rank r is (r + USER_OFFSET * n) ** -USER_SKEW
USER_OFFSET = 0.2
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DISORDER_S = 10.0         # in-order events trail their arrival by U(0, 10 s)
LATE_SHARE = 0.01         # ... and this share trails by U(10 s, 120 s)
LATE_MAX_S = 120.0
VALUE_MEAN = 50.0         # event value ~ Exponential(50), two decimals
SPAN_DAYS = 30            # arrivals spread over 30 days, as in the checked-in table
_DAY_US = 86_400_000_000
_EPOCH_2024 = 1_704_067_200_000_000    # 2024-01-01 in unix micros


def user_weights(n_users: int) -> np.ndarray:
    w = (np.arange(n_users) + USER_OFFSET * n_users) ** -USER_SKEW
    return w / w.sum()


def make_events(rng: np.random.Generator, n: int = N_EVENTS) -> pa.Table:
    """Events in arrival order: ``ts`` trails arrival by the disorder model."""
    gaps = rng.exponential(SPAN_DAYS * _DAY_US / n, n)
    users = rng.permutation(max(int(n * USERS_PER_EVENT), 1)).astype("int64")
    arrival_us = _EPOCH_2024 + np.cumsum(gaps).astype("int64")
    late = rng.random(n) < LATE_SHARE
    lag_s = np.where(late, rng.uniform(DISORDER_S, LATE_MAX_S, n),
                     rng.uniform(0.0, DISORDER_S, n))
    cols = {
        "event_id": np.arange(n, dtype="int64"),
        "ts": pa.array(arrival_us - (lag_s * 1e6).astype("int64"), type=pa.timestamp("us")),
        "user_id": users[rng.choice(len(users), n, p=user_weights(len(users)))],
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(VALUE_MEAN, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }
    return pa.table(cols, schema=pq.read_schema(EVENTS_SCHEMA_FILE))


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    tables = {}
    for name in SHUFFLED_TABLES:
        table = pq.read_table(os.path.join(DATA_DIR, f"{name}.parquet"))
        tables[name] = table.take(pa.array(rng.permutation(table.num_rows)))
    tables["events"] = make_events(rng)
    return tables


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
