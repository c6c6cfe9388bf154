"""Seeded corpus tables for the headline queries.

Writes ``lineitem``, ``events`` and ``documents`` parquet files with the
schemas and value distributions of the TPC-H-style query tables the
headline queries are phrased over (``__spark_entry__.py``): duplicate
order keys in lineitem, time-ordered events for sessionization, and
documents over a small vocabulary where one in twenty is a near-duplicate
of an earlier document with a trailing ``dup`` token. The same seed gives
byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # lineitem rows, documents, events
    "full": (60_000, 500, 10_000),
    "tiny": (6_000, 200, 1_000),
}

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = (["en"] * 3) + ["zh", "es", "de", "fr"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    n_orders = n // 4
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2000.0, n) * qty, 2)
    ship = np.datetime64("1995-01-02") + rng.integers(0, 2500, n).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n),
            "l_partkey": rng.integers(0, max(n // 30, 1), n),
            "l_suppkey": rng.integers(0, max(n // 600, 1), n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
            "l_shipdate": ship.astype("datetime64[us]"),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    # strictly increasing timestamps over 30 days, 150 users
    gaps = rng.exponential(30 * 86_400 / n, n)
    ts_us = np.cumsum(np.maximum(gaps, 1e-3) * 1e6).astype(np.int64)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(start + ts_us, type=pa.timestamp("us")),
            "user_id": rng.integers(0, 150, n),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.lognormal(3.5, 1.0, n), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 90))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n_words)]))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def generate_corpus(out_dir: str, seed: int, size: str = "full") -> dict[str, int]:
    """Write the three tables under ``out_dir``; return their row counts."""
    n_lineitem, n_docs, n_events = SIZES[size]
    rng = np.random.Generator(np.random.PCG64(seed))
    tables = {
        "lineitem": _lineitem(rng, n_lineitem),
        "events": _events(rng, n_events),
        "documents": _documents(rng, n_docs),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
