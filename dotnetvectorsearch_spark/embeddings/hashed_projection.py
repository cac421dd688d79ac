"""Hashed bag-of-words + random-projection embedder — a REAL (semantic,
trainable-free) backend that runs in any container.

Unlike ``DeterministicEmbedder`` (hash-of-whole-text: any edit yields an
unrelated vector), this embedder composes the vector from token-level
features, so texts sharing vocabulary get genuinely similar embeddings —
cosine ranks by lexical overlap, the classic random-indexing/SimHash-style
dense representation. It stands in for the E5 ONNX backend
(``embeddings/e5_onnx.py``, env-gated on onnxruntime) wherever honest
semantic behavior is needed without model weights.

Model: token t -> crc32 hash -> row of a seeded N(0,1) projection matrix
R (V x dim, V = 2^vocab_bits); embedding = L2-normalize(sum_t
log(1+tf_t) * R[h(t)]). Properties: deterministic (seeded, crc32 — not
Python's salted hash), unit-norm like the reference pipeline output
(E5MultilingualEmbeddings.cs:172-187), prefix-sensitive (the task prefix
adds a token), batched (one kernel call per Arrow batch or in-process
request; R is built ONCE per Python process and reused across batches,
tasks and requests — the same init-once pattern the ONNX session uses).

Scale: R is (2^16 x 64) float32 = 16 MB at the default size — per-worker
memory, never shuffled; inference is pure numpy gather+sum, no weights
shipped through the plan.
"""

from __future__ import annotations

import functools
import re
import zlib

import numpy as np

from dotnetvectorsearch_spark.embeddings.base import EmbeddingBackend

_TOKEN_RE = re.compile(r"\w+", re.UNICODE)


@functools.lru_cache(maxsize=4)
def _projection(bits: int, dim: int, seed: int) -> np.ndarray:
    """The seeded (2^bits x dim) projection R, built once per process:
    a reused Python worker (or the driver) pays the build once, not once
    per task or request."""
    rng = np.random.RandomState(seed)
    r = (rng.standard_normal((1 << bits, dim)) / np.sqrt(dim)) \
        .astype(np.float32)
    r.flags.writeable = False     # shared by every caller in the process
    return r


class HashedProjectionEmbedder(EmbeddingBackend):
    def __init__(self, dim: int = 64, vocab_bits: int = 16, seed: int = 42):
        self.dim = dim
        self.vocab_bits = vocab_bits
        self.seed = seed

    def embed_batch(self, texts: list[str]) -> np.ndarray:
        r = _projection(self.vocab_bits, self.dim, self.seed)
        mask = (1 << self.vocab_bits) - 1
        out = np.zeros((len(texts), self.dim), dtype=np.float32)
        for i, text in enumerate(texts):
            toks = _TOKEN_RE.findall(text.lower())
            if not toks:
                continue
            idx, counts = np.unique(
                np.fromiter((zlib.crc32(t.encode()) & mask for t in toks),
                            dtype=np.int64),
                return_counts=True)
            v = (np.log1p(counts)[:, None] * r[idx]).sum(axis=0)
            n = float(np.linalg.norm(v))
            out[i] = (v / n).astype(np.float32) if n > 1e-12 else \
                v.astype(np.float32)
        return out
