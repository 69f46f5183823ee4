"""Seeded inputs for the benchmark workloads.

Every generator takes the run's seed and nothing else that varies, so the
same seed writes byte-identical parquet files and a different seed writes
different ones.  The library only ever sees these files, read back
through ``sources.readers.load_table``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: separates the per-table random streams drawn from one seed
_STREAM = {"blobs": 1, "corpus": 2}


def blobs(seed: int, n: int, d: int, centers: int = 16,
          spread: float = 0.15) -> np.ndarray:
    """``(n, d)`` float32 rows drawn from ``centers`` Gaussian blobs whose
    centres sit uniformly in ``[-1, 1]^d``."""
    rng = np.random.default_rng([seed, _STREAM["blobs"], n, d])
    mu = rng.uniform(-1.0, 1.0, (centers, d)).astype(np.float32)
    label = rng.integers(0, centers, n)
    noise = rng.normal(0.0, spread, (n, d)).astype(np.float32)
    return mu[label] + noise


def write_features(path: str, X: np.ndarray) -> None:
    """Write ``X`` as ``(row_id bigint, features array<float>)``."""
    n, d = X.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    feats = pa.ListArray.from_arrays(offsets, pa.array(X.ravel()))
    pq.write_table(pa.table({"row_id": pa.array(np.arange(n, dtype=np.int64)),
                             "features": feats}), path)


def corpus(seed: int, n_docs: int, vocab: int = 4000,
           min_words: int = 20, max_words: int = 60, zipf_s: float = 1.07,
           dup_every: int = 10):
    """Documents drawn from a Zipf vocabulary with planted near-duplicates.

    Every ``dup_every``-th document is the one before it with one word
    replaced by a different word.  Returns ``(texts, planted)`` where
    ``texts[i]`` is document ``i`` and ``planted`` is the sorted list of
    ``(i - 1, i)`` id pairs of each edit.
    """
    rng = np.random.default_rng([seed, _STREAM["corpus"], n_docs])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(3, 9, vocab)
    words = ["".join(rng.choice(letters, int(k))) + str(r)
             for r, k in enumerate(lengths)]
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    p /= p.sum()
    sizes = rng.integers(min_words, max_words + 1, n_docs)
    draws = rng.choice(vocab, int(sizes.sum()), p=p)
    starts = np.concatenate([[0], np.cumsum(sizes)])
    docs = [draws[starts[i]:starts[i + 1]].tolist() for i in range(n_docs)]
    planted = []
    for i in range(dup_every - 1, n_docs, dup_every):
        doc = list(docs[i - 1])
        pos = int(rng.integers(0, len(doc)))
        new = int(rng.integers(0, vocab - 1))
        doc[pos] = new if new < doc[pos] else new + 1
        docs[i] = doc
        planted.append((i - 1, i))
    texts = [" ".join(words[w] for w in doc) for doc in docs]
    return texts, planted


def write_corpus(path: str, texts) -> None:
    """Write ``(doc_id bigint, text string)``."""
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array(texts, pa.string())}), path)


def table_path(data_dir: str, name: str) -> str:
    """Where ``load_table(spark, data_dir, name)`` looks for a table."""
    os.makedirs(data_dir, exist_ok=True)
    return os.path.join(data_dir, f"{name}.parquet")
