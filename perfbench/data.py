"""Deterministic benchmark inputs: a TPC-H-shaped lineitem/orders pair and
a small text corpus with planted exact and near duplicates.

The tables follow the column set and value ranges of the library's test
tables (see TESTDATA.md), scaled by ``LINEITEM_ROWS``. Everything is drawn
from ``DATA_SEED``, so every run of every workload reads byte-identical
tables; the workload seed only chooses which operations run on them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
LINEITEM_ROWS = 60_000
ORDERS_ROWS = LINEITEM_ROWS // 4
DOCS = 2_000

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _dates(rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    days = _EPOCH_1995 + rng.integers(0, span_days, n)
    return (days * _DAY_US).astype("datetime64[us]")


def lineitem(rng: np.random.Generator) -> pa.Table:
    n = LINEITEM_ROWS
    return pa.table({
        "l_orderkey": rng.integers(0, ORDERS_ROWS, n),
        "l_partkey": rng.integers(0, n // 30, n),
        "l_suppkey": rng.integers(0, max(10, n // 600), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _dates(rng, n, 2500),
    })


def orders(rng: np.random.Generator) -> pa.Table:
    n = ORDERS_ROWS
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, max(10, n // 10), n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, n), 2),
        "o_orderdate": _dates(rng, n, 2400),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })


def documents(rng: np.random.Generator) -> pa.Table:
    """Random-word documents of 10-100 tokens. About 8% are near copies of
    an earlier document (two tokens swapped out, a ``dup`` marker added)
    and 1% exact copies, so dedup has real work and real survivors."""
    texts: list[str] = []
    for i in range(DOCS):
        roll = rng.random()
        if i > 10 and roll < 0.08:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words + ["dup"]))
        elif i > 10 and roll < 0.09:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": np.arange(DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, DOCS),
        "source": [f"src{i % 20}" for i in range(DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


TABLES = {"lineitem": lineitem, "orders": orders, "documents": documents}


def write_tables(out_dir: str) -> dict[str, str]:
    """Write every table as one parquet file under ``out_dir``; returns
    {table: path}. Each table has its own generator stream, so resizing one
    table leaves the others unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for i, (name, make) in enumerate(TABLES.items()):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(make(np.random.default_rng([DATA_SEED, i])), path)
        paths[name] = path
    return paths
