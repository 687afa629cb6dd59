"""Deterministic stand-ins for the sf-style tables the query registry reads.

The registry entries (``plans.queries.QUERIES``) read ``documents``,
``embeddings`` and ``lineitem`` parquet files from one directory.  This
module writes tables of the same schema as the sf-style test data, each as
ONE parquet file with ONE row group (the unsplittable shape the
``scan_parallel`` guard exists for).  ``documents`` and ``embeddings`` have
the sf0.1 row counts; ``lineitem``, read only by ``pricing_summary``, has
the sf0.01 count:

- ``documents``: 5000 docs of 10-100 words drawn from a 30-word vocabulary,
  5% of them near-copies of another doc with a trailing ``dup`` word and a
  few exact duplicates;
- ``embeddings``: 2000 unit-norm float32 vectors of dimension 64 around 10
  weak cluster directions, with the cluster as ``label``;
- ``lineitem``: 60k TPC-H-style line items.

The content is a pure function of ``seed``; the benchmark
always uses the same seed, so registry goldens hold for every run.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split(),
    dtype=object,
)
LANGS = np.array(["en", "zh", "es", "fr", "de"], dtype=object)
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, size=n)
    texts = [" ".join(rng.choice(WORDS, size=int(k))) for k in lengths]
    # near duplicates: a copy of another doc plus one marker word
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    # exact duplicates
    for i in rng.choice(n, size=min(8, n // 2), replace=False):
        texts[i] = texts[(int(i) + n // 2) % n]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = rng.normal(size=(n, dim)) + 0.6 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2100.0, size=n), 2)
    ship = np.datetime64("1992-01-02") + rng.integers(0, 2500, size=n).astype(
        "timedelta64[D]"
    )
    returnflag = np.where(
        ship < np.datetime64("1995-06-17"),
        rng.choice(np.array(["R", "A"], dtype=object), size=n),
        "N",
    ).astype(object)
    linestatus = np.where(ship > np.datetime64("1995-06-17"), "O", "F").astype(
        object
    )
    return pa.table(
        {
            "l_orderkey": pa.array(np.arange(n) // 4, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20000, size=n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1000, size=n), pa.int64()),
            "l_linenumber": pa.array((np.arange(n) % 7 + 1).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * price, 2)),
            "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
            "l_returnflag": pa.array(returnflag, pa.string()),
            "l_linestatus": pa.array(linestatus, pa.string()),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )


def write_tables(out_dir: str, seed: int = 42) -> str:
    """Write documents/embeddings/lineitem parquet files into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(documents(rng, 5000), f"{out_dir}/documents.parquet")
    _write(embeddings(rng, 2000), f"{out_dir}/embeddings.parquet")
    _write(lineitem(rng, 60_000), f"{out_dir}/lineitem.parquet")
    return out_dir
