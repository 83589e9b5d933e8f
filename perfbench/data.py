"""Seeded synthetic tables with the sf0.1 schemas the workloads read.

The benchmark may read nothing outside its checkout, so it writes its
own parquet inputs. Row counts follow sf0.1 (orders 150k, supplier 1k,
documents 5k, embeddings 2k) times ``scale``; the content is a pure
function of ``seed``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {
    "orders": 150_000,
    "supplier": 1_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

EMBED_DIM = 64


PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

#: Document vocabulary. Large enough that unrelated documents share
#: almost no word 3-shingles, so near-duplicates are only the planted
#: copies; small enough that token-set Jaccard between neighbours is
#: spread around the entity-matching threshold of 0.5.
VOCAB = np.array(
    "a the of and to in is it batch part spark line column order small sort "
    "fast value scan hash slow group agg filter query big key window row "
    "table stream merge data vector join index shuffle stage task file cache "
    "page block node edge graph score rank token text word model train test "
    "label plan cost disk".split()
)

_EPOCH_1992 = np.datetime64("1992-01-01", "us")
_DAY_US = 86_400_000_000


def table_rows(name: str, scale: float) -> int:
    """Row count of ``name`` at ``scale`` times sf0.1 (at least 50)."""
    return max(50, int(SF01_ROWS[name] * scale))


def _choice(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(values).take(pa.array(rng.integers(0, len(values), n)))


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, 2557, n)  # 1992-01-01 .. 1998-12-31
    return pa.array(_EPOCH_1992 + days * _DAY_US, pa.timestamp("us"))


def _orders(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, 15_000, n, dtype=np.int64)),
            "o_orderstatus": _choice(rng, ["O", "F", "P"], n),
            "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500_000.0, n), 2)),
            "o_orderdate": _dates(rng, n),
            "o_orderpriority": _choice(rng, PRIORITIES, n),
        }
    )


def _supplier(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.0, 9999.0, n), 2)),
        }
    )


def document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random word sequences; about 2% are exact copies and 4% are
    one-word edits of an earlier document (the near-duplicates)."""
    lengths = rng.integers(8, 61, n)
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 0 and roll < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 0 and roll < 0.06:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))
            continue
        texts.append(" ".join(rng.choice(VOCAB, int(lengths[i]))))
    return texts


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = document_texts(rng, n)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _choice(rng, ["en", "de", "fr", "es", "zh"], n),
            "source": pa.array([f"src{i % 7}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embedding_matrix(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.normal(0.0, 0.15, (n, EMBED_DIM)).astype(np.float32)


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    flat = pa.array(embedding_matrix(rng, n).reshape(-1))
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 8, n).astype(np.int32)),
        }
    )


_BUILDERS = {
    "orders": _orders,
    "supplier": _supplier,
    "documents": _documents,
    "embeddings": _embeddings,
}


def write_tables(
    out_dir: str, names: list[str], seed: int, scale: float, max_rows: int | None = None
) -> dict[str, int]:
    """Write ``<out_dir>/<name>.parquet`` for each table, of at most
    ``max_rows`` rows; returns row counts. Each table draws from its
    own stream so adding a table to a workload never changes another
    table's content."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in names:
        rng = np.random.default_rng([seed, sorted(_BUILDERS).index(name)])
        n = table_rows(name, scale)
        table = _BUILDERS[name](rng, min(n, max_rows) if max_rows else n)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
