"""Seeded generator for the parquet tables the registry workload reads.

Writes ``customer``, ``embeddings`` and ``events`` with
the column names and types of the synthetic star-schema tables the
registry queries load (``sources.tables.load_table``), drawn from
``numpy.random.default_rng(seed)``: one seed always gives the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at scale 1. The q-digest sweep only compresses once
# events exceed twice its compression factor (2 x 2048); below that it
# keeps every leaf and skips most of its ~100 jobs.
ROWS = {"customer": 1000, "embeddings": 300, "events": 10000}

_SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
_EVENT_TYPES = ["view", "click", "purchase", "error"]
_NATIONS = 25
_USERS = 100
_DIM = 64  # embedding width
_CLASSES = 10  # embedding clusters (the label column)


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, _NATIONS, n), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n)],
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(_CLASSES, _DIM))
    labels = rng.integers(0, _CLASSES, n)
    v = centers[labels] + rng.normal(scale=2.0, size=(n, _DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    # increasing microsecond timestamps from 2024-01-01, a few minutes apart
    ts = 1_704_067_200_000_000 + np.cumsum(rng.integers(1, 300_000_000, n))
    # long-tailed positive values with two decimals, inside the q-digest
    # envelope [0, 512)
    value = np.clip(np.round(rng.lognormal(2.0, 1.0, n), 2), 0.01, 500.0)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, _USERS, n), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 4, n)],
            "value": value,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


_BUILD = {
    "customer": _customer,
    "embeddings": _embeddings,
    "events": _events,
}


def generate(root: str, seed: int, scale: float = 1.0) -> dict:
    """Write one ``<name>.parquet`` per table under ``root``, with
    ``ROWS`` times ``scale`` rows each; return the row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    out = {}
    for name, build in _BUILD.items():
        table = build(rng, max(2, round(ROWS[name] * scale)))
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
        out[name] = table.num_rows
    return out
