"""Deterministic pseudo-embedder for oracle-checkable end-to-end tests.

ONNX inference is not SQL-expressible, so correctness gates use this seeded
hash->unit-vector embedder behind the same ``EmbeddingBackend`` contract as
the real model (SURVEY.md §5.2). Properties:

- deterministic: embedding depends only on (text, dim, seed);
- unit-norm: L2-normalized like the real pipeline's output (reference
  ``E5MultilingualEmbeddings.cs:172-187``);
- sensitive to the task prefix, like a real asymmetric E5 model;
- batched: one kernel call per Arrow batch (the shared backend UDF) or per
  in-process request.
"""

from __future__ import annotations

import hashlib

import numpy as np

from dotnetvectorsearch_spark.embeddings.base import EmbeddingBackend


def _text_to_unit_vec(text: str, dim: int, seed: int) -> np.ndarray:
    digest = hashlib.sha256(f"{seed}:{text}".encode("utf-8")).digest()
    rng = np.random.RandomState(np.frombuffer(digest[:4], dtype=np.uint32)[0])
    v = rng.standard_normal(dim).astype(np.float32)
    n = float(np.sqrt((v.astype(np.float64) ** 2).sum()))
    if n > 1e-12:
        v = (v.astype(np.float64) / n).astype(np.float32)
    return v


class DeterministicEmbedder(EmbeddingBackend):
    def __init__(self, dim: int = 64, seed: int = 42):
        self.dim = dim
        self.seed = seed

    def embed_batch(self, texts: list[str]) -> np.ndarray:
        out = np.zeros((len(texts), self.dim), dtype=np.float32)
        for i, t in enumerate(texts):
            out[i] = _text_to_unit_vec(t, self.dim, self.seed)
        return out
