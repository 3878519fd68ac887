"""Seeded generator for the tables the headline queries read.

Writes ``lineitem``, ``orders``, ``documents`` and ``embeddings`` as one
parquet file each, one row group per file, drawn from the same model as the
sf0.1 test tables, so a generated set has their row counts, schemas and
distributions (see README.md for the side-by-side comparison):

* lineitem / orders: every column independent and uniform over the sf0.1
  range; prices in whole cents, so the decimal aggregates of q01/q04 round
  identically in Spark and DuckDB;
* documents: 10-99 words drawn uniformly from a 30-word vocabulary; 5% of
  the documents are then replaced, one after another, by a copy of another
  document with `` dup`` appended, which gives q19 its near-duplicate pairs;
  ``source`` is ``src<doc_id % 20>``;
* embeddings: i.i.d. Gaussian 64-d vectors scaled to unit length, with a
  label that does not depend on the vector (no clusters).

Same seed, same bytes.
"""
from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 150_000
N_LINEITEM = 600_000
N_CUSTOMERS = 15_000
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64
DUP_SHARE = 0.05

_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400 * 1_000_000


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, n: int, first: int, last: int) -> pa.Array:
    days = rng.integers(first, last + 1, n)
    return pa.array(_EPOCH_1995 + days * _DAY_US, pa.timestamp("us"))


def _lineitem(rng) -> pa.Table:
    n = N_LINEITEM
    return pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n, 1, 2_499),
    })


def _orders(rng) -> pa.Table:
    n = N_ORDERS
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, n),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _cents(rng, 1_000.0, 500_000.0, n),
        "o_orderdate": _days(rng, n, 0, 2_404),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n)],
    })


def _documents(rng) -> pa.Table:
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(10, 100))))
             for _ in range(N_DOCS)]
    # in turn, so a copy may copy an earlier copy (" dup dup"), and two
    # copies of one document are exact duplicates of each other
    for i in rng.choice(N_DOCS, int(N_DOCS * DUP_SHARE), replace=False):
        j = int(rng.integers(0, N_DOCS - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, N_DOCS, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng) -> pa.Table:
    vecs = rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_VECS).astype(np.int32),
    })


TABLES = {
    "lineitem": _lineitem,
    "orders": _orders,
    "documents": _documents,
    "embeddings": _embeddings,
}


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, (name, make) in enumerate(TABLES.items()):
        table = make(np.random.default_rng([seed, i]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=table.num_rows)
        rows[name] = table.num_rows
    return rows
