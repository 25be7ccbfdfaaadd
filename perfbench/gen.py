"""Deterministic input tables for the benchmark.

Writes the tables the benchmarked gate queries read (documents, events,
lineitem, customer, embeddings), each as ONE parquet file with ONE row group
— the layout of the gate's own test data, where every scan is a single task
until a query spreads it. The benchmark runs in a bare checkout, so it cannot
read the gate's tables; it writes look-alikes instead, with the sizes and
distributions measured on the gate's tables (``tablestats.py``; the figures
are in perfbench/README.md, "Input tables"):

- documents: 10-99 words drawn uniformly from a 30-word vocabulary; exactly
  5 % of the documents are another document's text plus the token ``dup``
  (the near-duplicate groups the dedup operators find); 500 rows at least,
  as in the gate's tables;
- events: a 30-day stream, exponential ``value`` with mean 50, JSON
  ``props``; ``user_id`` ranges over the first tenth of the customer keys,
  so every event has its customer;
- lineitem / customer: TPC-H-like columns and ranges;
- embeddings: isotropic 64-dim unit vectors with a uniform label in 0-9 that
  is independent of the vector; 500 rows at least.

Every value is a function of ``GEN_SEED`` and the scale factor only. The
benchmark's ``--seed`` never changes these tables (it seeds the images
table), so the stored expectations stay valid for every run.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 20240101

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

TABLES = ("documents", "events", "lineitem", "customer", "embeddings")


def sizes(sf: float) -> dict[str, int]:
    return {
        "documents": max(500, int(50_000 * sf)),
        "events": int(1_000_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "customer": int(150_000 * sf),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(
        table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=table.num_rows
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_words = rng.integers(10, 100, n)
    word_ids = rng.integers(0, len(VOCAB), int(n_words.sum()))
    vocab = np.array(VOCAB, dtype=object)
    ends = np.cumsum(n_words)
    texts = [
        " ".join(vocab[word_ids[e - k : e]]) for k, e in zip(n_words, ends)
    ]
    dups = rng.choice(n, n // 20, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i, j in zip(dups, rng.choice(originals, len(dups))):
        texts[i] = texts[j] + " dup"
    langs = np.array(["en", "zh", "es", "fr", "de"], dtype=object)
    lang = langs[rng.choice(5, n, p=[0.41, 0.15, 0.15, 0.15, 0.14])]
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": doc_id,
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    types = np.array(["click", "view", "purchase", "signup", "error"], dtype=object)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(t0 + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": pa.array(types[rng.integers(0, 5, n)], pa.string()),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def _lineitem(rng: np.random.Generator, n: int, sf: float) -> pa.Table:
    d0 = np.datetime64("1995-01-02", "D")
    days = rng.integers(0, 2499, n).astype("timedelta64[D]")  # to 2001-11-04
    return pa.table(
        {
            "l_orderkey": rng.integers(0, max(1, int(1_500_000 * sf)), n).astype(np.int64),
            "l_partkey": rng.integers(0, max(1, int(200_000 * sf)), n).astype(np.int64),
            "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(
                np.array(["N", "R", "A"], dtype=object)[rng.integers(0, 3, n)],
                pa.string(),
            ),
            "l_linestatus": pa.array(
                np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n)], pa.string()
            ),
            "l_shipdate": pa.array(
                (d0 + days).astype("datetime64[us]"), pa.timestamp("us")
            ),
        }
    )


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    m = len(keys)
    segs = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object
    )
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
            "c_nationkey": rng.integers(0, 25, m).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, m), 2),
            "c_mktsegment": pa.array(segs[rng.integers(0, 5, m)], pa.string()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    label = rng.integers(0, 10, n)
    v = rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(v.reshape(-1), pa.float32()),
    )
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb,
            "label": label.astype(np.int32),
        }
    )


def write_tables(out_dir: str, sf: float, tables=TABLES) -> dict[str, int]:
    """Write ``tables`` for scale factor ``sf``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(sf)
    rng = lambda k: np.random.default_rng([GEN_SEED, k])  # noqa: E731
    n_users = max(1, n["customer"] // 10)
    build = {
        "documents": lambda: _documents(rng(1), n["documents"]),
        "events": lambda: _events(rng(2), n["events"], n_users),
        "lineitem": lambda: _lineitem(rng(3), n["lineitem"], sf),
        "customer": lambda: _customer(rng(4), n["customer"]),
        "embeddings": lambda: _embeddings(rng(5), n["embeddings"]),
    }
    out = {}
    for t in tables:
        table = build[t]()
        _write(out_dir, t, table)
        out[t] = table.num_rows
    return out

