"""Seeded tables for the query-suite workload.

The tables keep the schema and the value shapes of the repository's
testdata (TESTDATA.md: ``lineitem`` of the TPC-H-like star, ``events``
and ``documents``), but are drawn from the benchmark's seed and written
inside the benchmark's working directory, so a run reads nothing
outside its checkout. Only the tables the fixed query list reads are
written. A few exact and near duplicates are planted in ``documents``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "the a fast slow big small key value order sort table scan merge "
    "part window hash join batch stream spark row column filter query "
    "line data vector agg group customer index page block token word "
    "text media image cache shuffle spill plan stage task node"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
N_SOURCES = 20
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random-vocabulary texts of 20-90 words, 5% exact and 5% near
    duplicates of earlier texts."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and roll < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
            continue
        k = int(rng.integers(20, 91))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return texts


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = _doc_texts(rng, n)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, N_SOURCES, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            # testdata: 150 users per 10,000 events
            "user_id": pa.array(rng.integers(0, max(n // 67, 1), n), pa.int64()),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(np.round(rng.uniform(0.01, 490.0, n), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n), 2)
    days = rng.integers(0, 6 * 365 + 300, n)
    return pa.table(
        {
            # testdata: 15,000 orders per 60,000 lines
            "l_orderkey": pa.array(rng.integers(0, max(n // 4, 1), n), pa.int64()),
            # testdata: 2,000 parts and 100 suppliers per 60,000 lines
            "l_partkey": pa.array(rng.integers(0, max(n // 30, 1), n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(n // 600, 1), n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n)]),
            "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(EPOCH_1995_US + days * DAY_US, pa.timestamp("us")),
        }
    )


def write_tables(sf_dir: str, seed: int, rows: dict[str, int]) -> None:
    """Write ``<name>.parquet`` for each table in ``rows``."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    makers = {
        "documents": lambda n: _documents(rng, n),
        "events": lambda n: _events(rng, n),
        "lineitem": lambda n: _lineitem(rng, n),
    }
    for name, n in rows.items():
        pq.write_table(makers[name](n), os.path.join(sf_dir, f"{name}.parquet"))
