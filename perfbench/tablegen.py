"""Seeded synthetic tables for the ``llm_ops`` mix: ``orders``, ``events``
and ``documents`` (about 10% of them near-duplicates), with the schemas,
row counts and value distributions of the engine's sf0.01 test data.

NumPy draws the values and pyarrow writes one parquet file per table, so
the tables exist before any Spark session reads them.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
VOCAB = (
    "a the join hash row batch scan customer column filter small slow merge "
    "order vector line data table agg value key stream window spark group "
    "part big sort query fast"
).split()

ROWS = {"orders": 15000, "events": 10000, "documents": 500}
CUSTOMERS = 1500
TABLES = tuple(ROWS)

_DAY = np.timedelta64(1, "D")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return texts


def generate(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table into ``out_dir``; return the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    i64 = pa.int64()

    no = ROWS["orders"]
    order_dates = np.datetime64("1995-01-01") + rng.integers(0, 2404, no) * _DAY
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, CUSTOMERS, no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": pa.array(order_dates.astype("datetime64[us]")),
        "o_orderpriority": rng.choice(PRIORITIES, no)})

    ne = ROWS["events"]
    start = np.datetime64(dt.datetime(2024, 1, 1), "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(start + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, ne // 66), ne), i64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": _money(rng, 0.01, 490.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = ROWS["documents"]
    texts = _documents(rng, nd)
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    return rows
