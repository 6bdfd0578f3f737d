"""Seeded input generators. Same seed, same bytes.

Every input the program sees is generated here from a ``numpy`` PCG64
stream: lineitem- and events-shaped shards (the schemas of the repository's
TPC-H/events testdata), a word corpus with injected exact, near and
substring duplicates, and clustered embedding vectors. Files are written
with pyarrow, so generation costs no Spark job.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "search", "cart", "purchase", "error"]
_EVENT_P = [0.40, 0.25, 0.15, 0.10, 0.06, 0.04]
FLAGS = ["A", "N", "R"]
STATUS = ["F", "O"]


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """An independent generator per (seed, stream...) so adding a draw in
    one input never shifts another input's values."""
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# -- relational shards ------------------------------------------------------------


def lineitem(rng: np.random.Generator, rows: int, key0: int) -> pa.Table:
    """One lineitem-shaped shard; ``l_orderkey`` ascends from ``key0`` so a
    footer zone map can prune shards by key range."""
    qty = rng.integers(1, 51, rows).astype("float64")
    price = np.round(qty * rng.uniform(900.0, 2000.0, rows), 2)
    return pa.table(
        {
            "l_orderkey": np.sort(key0 + rng.integers(0, rows * 4, rows)).astype("int64"),
            "l_partkey": rng.integers(1, 2001, rows).astype("int64"),
            "l_suppkey": rng.integers(1, 101, rows).astype("int64"),
            "l_linenumber": rng.integers(1, 8, rows).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, rows) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, rows) / 100.0, 2),
            "l_returnflag": pa.array(np.array(FLAGS)[rng.integers(0, 3, rows)]),
            "l_linestatus": pa.array(np.array(STATUS)[rng.integers(0, 2, rows)]),
        }
    )


def events(rng: np.random.Generator, rows: int, id0: int, n_users: int) -> pa.Table:
    """One events-shaped shard with Zipf-skewed users and event types."""
    users = (rng.zipf(1.3, rows) - 1) % n_users + 1
    return pa.table(
        {
            "event_id": np.arange(id0, id0 + rows, dtype="int64"),
            "user_id": users.astype("int64"),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.choice(6, rows, p=_EVENT_P)]),
            "value": np.round(rng.gamma(2.0, 20.0, rows), 2),
        }
    )


# -- text corpus ------------------------------------------------------------------


def vocabulary(rng: np.random.Generator, size: int = 3000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = {"".join(letters[rng.integers(0, 26, rng.integers(3, 9))]) for _ in range(size * 2)}
    return np.array(sorted(words)[:size])


def corpus(
    rng: np.random.Generator,
    n_docs: int,
    id0: int = 0,
    exact_share: float = 0.05,
    near_share: float = 0.05,
    boiler_share: float = 0.10,
) -> tuple[pa.Table, dict]:
    """Word documents with injected duplicates. Returns the table and the
    ground truth: ``exact`` and ``near`` are (original_id, copy_id) pairs;
    near copies replace 2 of every ~100 tokens, so their 3-shingle Jaccard
    with the original stays above 0.85. ``boiler_share`` of documents carry
    one shared 40-token passage (substring-dedup work)."""
    vocab = vocabulary(rng)
    ranks = np.arange(1, len(vocab) + 1)
    p = 1.0 / ranks
    p /= p.sum()
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_base = n_docs - n_exact - n_near
    lengths = rng.integers(60, 140, n_base)
    docs = [list(vocab[rng.choice(len(vocab), n, p=p)]) for n in lengths]
    boiler = list(vocab[rng.choice(len(vocab), 40, p=p)])
    for i in rng.choice(n_base, int(n_docs * boiler_share), replace=False):
        at = int(rng.integers(0, len(docs[i])))
        docs[i] = docs[i][:at] + boiler + docs[i][at:]
    truth = {"exact": [], "near": []}
    src = rng.choice(n_base, n_exact + n_near, replace=False)
    for j, s in enumerate(src):
        copy = list(docs[s])
        kind = "exact" if j < n_exact else "near"
        if kind == "near":
            for pos in rng.choice(len(copy), max(1, len(copy) // 50), replace=False):
                copy[pos] = vocab[int(rng.integers(0, len(vocab)))]
        truth[kind].append((id0 + int(s), id0 + len(docs)))
        docs.append(copy)
    text = [" ".join(d) for d in docs]
    table = pa.table(
        {
            "doc_id": np.arange(id0, id0 + len(text), dtype="int64"),
            "text": pa.array(text),
            "source": pa.array(np.array(["web", "books", "code", "news"])[rng.integers(0, 4, len(text))]),
        }
    )
    return table, truth


def cluster_centers(rng: np.random.Generator, clusters: int, dim: int) -> np.ndarray:
    centers = rng.normal(size=(clusters, dim))
    return centers / np.linalg.norm(centers, axis=1, keepdims=True)


def vectors(rng: np.random.Generator, n: int, centers: np.ndarray, id0: int = 0) -> pa.Table:
    """Float vectors drawn around the unit ``centers``."""
    which = rng.integers(0, len(centers), n)
    v = (centers[which] + rng.normal(scale=0.15, size=(n, centers.shape[1]))).astype("float32")
    return pa.table(
        {
            "vec_id": np.arange(id0, id0 + n, dtype="int64"),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        }
    )
