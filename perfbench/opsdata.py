"""Seed-generated tables for the operator queries of ``__spark_entry__``.

The operator queries read parquet tables by name from a directory. This
module writes small tables with the same names, columns and types as the
repository's oracle test tables (documents, embeddings, events, customer,
orders), each as one parquet file, from the run's seed — so the operator
layers can be timed on inputs the benchmark makes itself.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# 30 words of the oracle tables' vocabulary; "the" is a language marker
_VOCAB = (
    "hash order table window row batch big group a spark filter sort join "
    "line data column key merge agg small scan vector stream value customer "
    "slow part fast query the"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["signup", "error", "click", "view", "purchase"]


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts = []
    for i in range(n):
        if i >= 10 and i % 25 == 0:
            # near-duplicate of an earlier document: one word changed
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_VOCAB, size=int(rng.integers(8, 90)))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    v = centers[labels] + 0.6 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def _events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n).astype(np.int64),
        "event_type": [_EVENTS[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.lognormal(3.5, 1.0, n).clip(0.01, 490.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _customer(rng: np.random.Generator, n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pd.DataFrame:
    start = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 6 * 365, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": start + days,
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n)],
    })


TABLES = ("documents", "embeddings", "events", "customer", "orders")


def write_tables(out_dir: str, seed: int) -> str:
    """Write the tables under ``out_dir`` (one parquet file each, one row
    group, like the oracle tables; about half the rows of their sf0.01
    size) and return ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = 800
    tables = {
        "documents": _documents(rng, 300),
        "embeddings": _embeddings(rng, 300),
        "events": _events(rng, 6000),
        "customer": _customer(rng, n_cust),
        "orders": _orders(rng, 8000, n_cust),
    }
    for name, t in tables.items():
        if isinstance(t, pd.DataFrame):
            t = pa.Table.from_pandas(t, preserve_index=False)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
    return out_dir
