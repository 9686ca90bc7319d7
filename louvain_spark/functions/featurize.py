"""Deterministic text featurizer — the engine's embedding stage (U1).

Replaces the reference's remote BGE-M3 embedding service
(/root/reference/tool/TextProcessor.py:19-87: per-text HTTPS call,
ProcessPoolExecutor(10), retry ×3, zeros on failure) with an in-engine,
deterministic, vectorized hashing-trick featurizer: character n-grams →
signed hash buckets → L2-normalized float32 vector. Preserves the operator
shape (text → ArrayType(FloatType), unit-norm, fixed dim — dim 1024
float32 in the reference, /root/reference/tool/TextProcessor.py:25 and
Neo4jLouvainProcessor.py:96-101) with no network and no per-row Python:
one Arrow-batched pandas UDF doing numpy over the whole batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

# FNV-1a constants — stable across platforms/processes (never rely on
# Python's salted hash())
_FNV_OFFSET = 14695981039346656037
_FNV_PRIME = 1099511628211


def fnv1a_masked(buf: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Vectorized FNV-1a over a padded uint8 matrix: row i hashes
    buf[i, :lens[i]]. One XOR-multiply pass per byte position across the
    whole batch; bit-identical per row to the scalar FNV-1a definition,
    tests/test_dedup_textstats._fnv1a_bytes (uint64 array ops wrap
    silently — only scalar numpy ops warn). The single shared kernel
    behind the featurizer's short-text path and the SimHash token hash."""
    h = np.full(len(lens), _FNV_OFFSET, dtype=np.uint64)
    prime = np.uint64(_FNV_PRIME)
    for j in range(int(lens.max()) if len(lens) else 0):
        live = lens > j
        h[live] = (h[live] ^ buf[live, j].astype(np.uint64)) * prime
    return h


def featurize_batch(texts: pd.Series, dim: int = 64, ngram: int = 3) -> pd.Series:
    """Vectorized hashing-trick featurizer over a pandas batch.

    Fully vectorized across the batch: all texts' byte n-gram windows hash
    in `ngram` numpy passes over a padded byte matrix (one XOR-multiply
    per window byte position), then one scatter-add builds every vector.
    Each window hashes as scalar FNV-1a over its bytes would (the
    definition tests/test_dedup_textstats._fnv1a_bytes spells out).
    """
    if len(texts) == 0:
        return pd.Series([], dtype=object)
    return pd.Series(list(featurize_matrix(texts, dim, ngram)))


def featurize_matrix(texts, dim: int = 64, ngram: int = 3) -> np.ndarray:
    """featurize_batch's vectors as one (n, dim) float32 matrix. The
    padded byte matrix is n × the longest text, so callers with many rows
    pass them in chunks."""
    n = len(texts)
    if n == 0:
        return np.zeros((0, dim), dtype=np.float32)
    vals = list(texts)
    isnull = np.fromiter((t is None for t in vals), dtype=bool, count=n)
    enc = [b"" if t is None else str(t).encode("utf-8") for t in vals]
    lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=n)
    maxlen = max(int(lens.max()), 1)
    buf = np.zeros((n, maxlen), dtype=np.uint8)
    for i, b in enumerate(enc):
        if b:
            buf[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    off = np.uint64(_FNV_OFFSET)
    prime = np.uint64(_FNV_PRIME)
    acc = np.zeros((n, dim), dtype=np.float64)

    def scatter(rows: np.ndarray, hv: np.ndarray) -> None:
        bucket = ((hv >> np.uint64(1)) % np.uint64(dim)).astype(np.int64)
        sign = np.where((hv & np.uint64(1)) == 0, 1.0, -1.0)
        # bincount over a flattened (row, bucket) index — an order faster
        # than np.add.at's unbuffered scatter
        flat = rows * dim + bucket
        acc.ravel()[:] += np.bincount(flat, weights=sign, minlength=n * dim)

    n_win = maxlen - ngram + 1
    if n_win > 0:
        h = np.full((n, n_win), off, dtype=np.uint64)
        for t in range(ngram):
            h = (h ^ buf[:, t : t + n_win].astype(np.uint64)) * prime
        rows, cols = np.nonzero(
            np.arange(n_win)[None, :] < (lens - ngram + 1)[:, None]
        )
        scatter(rows, h[rows, cols])
    # texts shorter than one n-gram contribute their whole byte string as
    # the single gram (zero-vector fallback for None, as the reference on
    # embedding failure, /root/reference/tool/TextProcessor.py:79)
    short = (~isnull) & (lens < ngram)
    if short.any():
        scatter(np.nonzero(short)[0], fnv1a_masked(buf[short], lens[short]))
    norms = np.linalg.norm(acc, axis=1, keepdims=True)
    mat = np.where(norms > 0, acc / np.maximum(norms, 1e-300), acc).astype(np.float32)
    mat[isnull] = 0.0
    return mat


def featurize_udf(dim: int = 64, ngram: int = 3):
    """Series→Series pandas UDF: text → L2-normalized float32 vector."""

    @F.pandas_udf(ArrayType(FloatType()))
    def _udf(texts: pd.Series) -> pd.Series:
        return featurize_batch(texts, dim=dim, ngram=ngram)

    return _udf


def featurize(col: str | Column, dim: int = 64, ngram: int = 3) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return featurize_udf(dim=dim, ngram=ngram)(c)
