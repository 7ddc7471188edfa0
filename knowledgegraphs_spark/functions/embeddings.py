"""Deterministic text embeddings + cosine kernels (operators M1-M3 analog).

The north rule replaces the reference's BERT cross-encoder
(``bert_classifier.py:153-160``) with a broadcast-embedding + blocked-cosine
scorer. In this container no transformer weights are available, so the
default encoder is a **deterministic feature-hashing (hashing-trick) char
n-gram encoder** — a real, seedless, vectorized encoder whose geometry makes
near-identical surface forms score high cosine. The Spark-side plumbing
(distinct-string dedup → mapInPandas batch encode → broadcast join) is
exactly what a BERT encoder shipped via ``--py-files`` would use; swap
``encode_batch`` for a model forward pass and nothing else changes.

Reference parity notes: the reference embeds only DISTINCT strings and caches
(``InterpretHeaders.py:120-131``); we reproduce that as dropDuplicates →
encode → re-join. Determinism mirrors the reference's fixed seeding
(``bert_classifier.py:218-227``) — hashing needs no seed at all.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import MatchConfig


def _char_ngrams(text: str, n_lo: int, n_hi: int) -> list[str]:
    t = f" {text.lower().strip()} "
    out: list[str] = []
    for n in range(n_lo, n_hi + 1):
        out.extend(t[i : i + n] for i in range(len(t) - n + 1))
    return out


def encode_batch(
    texts: list[str], dim: int = 256, ngram_range: tuple[int, int] = (2, 3)
) -> np.ndarray:
    """L2-normalized hashing-trick embeddings, float32, shape (len, dim)."""
    vecs = np.zeros((len(texts), dim), dtype=np.float32)
    for i, text in enumerate(texts):
        for g in _char_ngrams(text or "", *ngram_range):
            h = zlib.crc32(g.encode("utf-8"))
            idx = (h >> 1) % dim
            sign = 1.0 if (h & 1) else -1.0
            vecs[i, idx] += sign
    norms = np.linalg.norm(vecs, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return vecs / norms


# --- M1 weight-loading seam --------------------------------------------------
# The reference loads its fine-tuned checkpoint once per process and serves
# batch-32 predictions (``bert_classifier.py:153-192``, batch contract
# ``bertmap_main.py:136-137``). The Spark equivalent: ship the weights file
# via ``--py-files``/``SparkFiles``, resolve + load it ONCE per Python
# worker (module-level cache keyed by path), and run the forward pass inside
# the same mapInPandas that the hashing encoder uses.

_WORKER_WEIGHTS_CACHE: dict[str, np.ndarray] = {}


def _resolve_weights_path(path: str) -> str:
    import os

    if os.path.exists(path):
        return path
    from pyspark import SparkFiles  # shipped name under --files/--py-files

    return SparkFiles.get(path)


def load_worker_weights(path: str) -> np.ndarray:
    """Load a (dim_in, dim_out) float32 projection, once per worker
    process — repeat calls in the same interpreter are dictionary hits."""
    w = _WORKER_WEIGHTS_CACHE.get(path)
    if w is None:
        with np.load(_resolve_weights_path(path)) as z:
            w = z["weights"].astype(np.float32)
        _WORKER_WEIGHTS_CACHE[path] = w
    return w


def save_identity_weights(path: str, dim: int = 256) -> str:
    """The fixture weights on which the loaded-weights encoder and the
    plain hashing encoder agree exactly (identity projection of unit-norm
    vectors re-normalizes to itself)."""
    np.savez(path, weights=np.eye(dim, dtype=np.float32))
    return path


def encode_batch_with_weights(
    texts: list[str],
    weights: np.ndarray,
    dim: int = 256,
    ngram_range: tuple[int, int] = (2, 3),
    batch_size: int = 32,
) -> np.ndarray:
    """Forward pass: hashing features → linear projection → L2 norm, in
    slices of ``batch_size`` (the reference's prediction batch contract)."""
    feats = encode_batch(texts, dim, ngram_range)
    out = np.empty((len(texts), weights.shape[1]), dtype=np.float32)
    for lo in range(0, len(texts), batch_size):
        out[lo : lo + batch_size] = feats[lo : lo + batch_size] @ weights
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return out / norms


def encode_strings(
    df: DataFrame, text_col: str, out_col: str = "embedding", cfg: MatchConfig | None = None
) -> DataFrame:
    """Append an embedding column; one Arrow batch per ~10k rows.

    Callers should pass DISTINCT strings (dedup-then-enrich) — embedding the
    same surface twice is wasted compute at any scale. When
    ``cfg.weights_path`` is set, each worker loads the projection once and
    runs the batched forward pass (the M1 swap-in seam); otherwise the
    plain hashing encoder runs.
    """
    from pyspark.sql import types as T

    cfg = cfg or MatchConfig()
    dim, ngr = cfg.embedding_dim, cfg.ngram_range
    weights_path, bsz = cfg.weights_path, cfg.predict_batch_size
    # fresh StructType: .add() would mutate df's cached schema in place
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.ArrayType(T.FloatType()))]
    )
    cols = df.columns

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = load_worker_weights(weights_path) if weights_path else None
        for pdf in batches:
            texts = pdf[text_col].fillna("").tolist()
            if weights is None:
                vecs = encode_batch(texts, dim, ngr)
            else:
                vecs = encode_batch_with_weights(texts, weights, dim, ngr, bsz)
            pdf = pdf[cols].copy()
            pdf[out_col] = list(vecs)
            yield pdf

    return df.mapInPandas(_map, schema=schema)


def cosine_col(a: Column, b: Column) -> Column:
    """JVM-side cosine over two array<float|double> columns.

    Sequential fold in index order (deterministic); inputs from
    ``encode_batch`` are already unit-norm so this is a plain dot product —
    but we normalize anyway so the kernel is safe for arbitrary vectors.
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))
