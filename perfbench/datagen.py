"""Deterministic source tables for the benchmark.

Writes the four tables the CDC workloads read (`orders`, `customer`,
`documents`, `embeddings`) as single parquet files with the column names
and types of the package's TPC-H-style inputs. Table contents depend only
on the sizes: the run seed never changes them, so every seed drives the
same amount of work and only the key→file / key→table assignment and
the query order vary with it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_CONTENT_SEED = 42

_WORDS = (
    "the a data row column table key value order part line customer "
    "join hash merge sort scan filter group agg window query batch "
    "stream spark fast slow big small vector"
).split()
_PHRASES = ("hash join", "window agg", "slow scan filter")
_LANGS = ("en", "en", "de", "fr", "es", "zh")


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    days = rng.integers(0, 2404, n)
    dates = np.datetime64("1995-01-01", "us") + days.astype("timedelta64[D]")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500000.0, n), 2)),
        "o_orderdate": pa.array(dates, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
        )),
    })


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n
        )),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i % 10 == 5:
            # near-duplicate of an earlier document, so the dedup and
            # containment queries have pairs to find
            words = texts[i - 5].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(words + ["extra"] * int(i % 3)))
            continue
        words = list(rng.choice(_WORDS, int(rng.integers(8, 90))))
        if rng.random() < 0.3:
            at = int(rng.integers(0, len(words)))
            words[at:at] = str(rng.choice(_PHRASES)).split()
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(0.0, 0.125, (n, dim)).astype(np.float32)
    # every tenth vector is a noisy copy of its predecessor, so the
    # semantic-dedup query finds pairs inside a cell
    for i in range(9, n, 10):
        vecs[i] = vecs[i - 1] + rng.normal(0.0, 0.02, dim).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def write_tables(out_dir: str, *, orders: int, customers: int,
                 documents: int, embeddings: int) -> dict[str, int]:
    """Write the four tables under `out_dir`; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(_CONTENT_SEED)
    tables = {
        "orders": _orders(rng, orders, customers),
        "customer": _customer(rng, customers),
        "documents": _documents(rng, documents),
        "embeddings": _embeddings(rng, embeddings),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
