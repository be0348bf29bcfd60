"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical files. The engine only ever sees the files written here.

Documents follow the corpus schema in FIXTURES.md (doc_id, text, lang,
source, n_chars) and are written as parquet *directories* of several
part files, so scans split into several tasks. Vectors are a Gaussian
mixture written as fvecs shards, neighbour ids as ivecs shards.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "the", "value", "vector", "window",
)
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) so adding a table or
    a pass never shifts another one's draws."""
    return np.random.default_rng([seed, *stream])


def write_table(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as a parquet directory of ``n_files`` part files."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _word_soup(rng: np.random.Generator, n_docs: int) -> list[str]:
    lengths = rng.integers(20, 70, n_docs)
    words = np.asarray(VOCAB)
    return [" ".join(words[rng.integers(0, len(words), m)]) for m in lengths]


def documents_table(
    seed: int, stream: int, n_docs: int, dup_share: float = 0.0, near_share: float = 0.0,
    id_base: int = 0,
) -> pa.Table:
    """Word-soup documents; ``dup_share`` of them are exact copies and
    ``near_share`` near copies (one word replaced) of earlier ones."""
    rng = rng_for(seed, 1, stream)
    texts = _word_soup(rng, n_docs)
    n_dup = int(n_docs * dup_share)
    n_near = int(n_docs * near_share)
    targets = rng.permutation(np.arange(n_docs // 2, n_docs))[: n_dup + n_near]
    for j, t in enumerate(targets):
        src = texts[int(rng.integers(0, n_docs // 2))]
        if j < n_dup:
            texts[t] = src
        else:
            w = src.split(" ")
            w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[t] = " ".join(w)
    ids = np.arange(id_base, id_base + n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )


def mixture(seed: int, stream: int, n: int, d: int, n_clusters: int) -> np.ndarray:
    """Seeded Gaussian-mixture vectors (float32), the shape real
    embedding corpora have."""
    rng = rng_for(seed, 3, stream)
    centers = rng.normal(0.0, 1.0, (n_clusters, d))
    labels = rng.integers(0, n_clusters, n)
    x = centers[labels] + rng.normal(0.0, 0.35, (n, d))
    return x.astype(np.float32)


def write_vecs(path: str, mat: np.ndarray, n_files: int) -> None:
    """fvecs (float32) or ivecs (int32) shards: per record an int32
    dim, then dim values. Shard order = global id order."""
    os.makedirs(path, exist_ok=True)
    n, d = mat.shape
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        block = mat[bounds[i] : bounds[i + 1]]
        rec = np.empty((block.shape[0], d + 1), dtype=block.dtype)
        rec[:, 1:] = block
        rec[:, 0] = np.asarray(d, dtype=np.int32).view(block.dtype)
        with open(os.path.join(path, f"part-{i:05d}.vecs"), "wb") as f:
            f.write(rec.tobytes())
