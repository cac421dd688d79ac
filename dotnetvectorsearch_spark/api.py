"""Engine facade with the reference's full request surface.

One method per reference HTTP endpoint (``WebAPI/Program.cs:78-304``), so a
user of the reference can switch by calling these instead of the REST API.
The HTTP layer itself is out of engine scope (SURVEY.md §2.1 S8) — any
driver-side web framework can wrap this class 1:1.

Endpoint -> method map (semantics notes cite the reference):

- ``GET  /health``               -> :meth:`health`
- ``POST /api/embeddings``       -> :meth:`get_embedding` — RAW text, no
  task prefix (``VectorSearchService.cs:37``)
- ``POST /api/embeddings/batch`` -> :meth:`get_embeddings_batch` — raw text
  (``:67``); the reference's Task.WhenAll fan-out becomes one batched
  kernel call
- ``POST /api/similarity``       -> :meth:`calculate_similarity` — BOTH
  sides get the ``"query: "`` prefix (``:103-104``)
- ``POST /api/search``           -> :meth:`search` — query side gets
  ``"query: "`` (``:183``); brute-force cosine, sort desc (id tiebreak),
  top-k 1-50 default 5 (``ApiModels.cs:67-68``); ``threshold`` honors the
  README-declared-but-unimplemented filter (README.md:130-140)
- ``GET  /api/documents``        -> :meth:`list_documents` — ORDER BY id
  with the include-embeddings projection toggle (``:131-171``)

Serving path. The reference answers every request in-process over an
in-memory list (``VectorSearchService.cs:142-203``). The engine does the
same whenever the corpus is bounded. At construction the corpus is
cached, and one aggregate job counts at most ``max_rows + 1`` of its
rows and estimates their Arrow bytes, with ``max_rows = 64 MB //
(4 * embedder.dim)`` and 64 MB the driver read/write bound of
``operators/ann.py``. Only a corpus within both bounds is then collected
with one ``limit(max_rows + 1).toArrow()`` — id, embedding and every
other column — and pinned on the driver as one Arrow table. Brute and
IVF search, the document listing and the document count are answered
from the pin with zero Spark jobs, by exact driver twins of the Spark
expressions (``operators/search.py``: bit-equal scores, the same order
and the same dict keys, pinned in tests/test_api.py); the IVF index is
fit from the pin as well.

The pin is refused when the corpus has more rows or bytes than the
bound (the collected table is checked again), an id or an embedding (or
one of its elements) is null, an embedding's length is not
``embedder.dim``, or an embedding holds a non-finite value. The cached
corpus is then served by Spark jobs, the only formulation that scales
past driver memory; the document count is taken once per engine.
:meth:`health` reports which path was taken and why. On either path,
texts are embedded in-process by the backend's kernel and
:meth:`calculate_similarity` scores its two vectors on the driver; the
``lsh``/``pq``/``ivfpq`` methods always run on Spark, over the cached
corpus.
"""

from __future__ import annotations

from typing import Any

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import AtomicType, BinaryType, StringType, StructType

from dotnetvectorsearch_spark.embeddings.base import EmbeddingBackend
from dotnetvectorsearch_spark.functions.text import QUERY_PREFIX
from dotnetvectorsearch_spark.operators import ann
from dotnetvectorsearch_spark.operators.search import (
    MAX_TOP_K,
    DriverVectors,
    ordered_listing,
    rank_top_k,
    round6_half_up,
    top_k_similar,
    validate_top_k,
)

_VEC = "embedding"
_IVF = {"n_cells": 16, "nprobe": 4}


class _PinnedCorpus:
    """The corpus as one driver-resident Arrow table plus its embedding
    matrix, ready for the exact driver kernels."""

    def __init__(self, table, schema: StructType, id_col: str,
                 mat: np.ndarray):
        self.table = table
        self.schema = schema
        self.ids = table.column(id_col).to_numpy(zero_copy_only=False)
        self.mat = mat
        self.vectors = DriverVectors(mat)

    def rows(self, positions, cols: list[str]) -> list[dict[str, Any]]:
        """``Row.asDict()`` of the given rows and columns, with the Python
        values a Spark ``collect()`` returns."""
        from pyspark.sql.conversion import ArrowTableToRowsConversion

        rows = ArrowTableToRowsConversion.convert(
            self.table.select(cols).take(np.asarray(positions, np.int64)),
            StructType([self.schema[c] for c in cols]),
            binary_as_bytes=False)
        return [r.asDict() for r in rows]


def _row_bytes(df: DataFrame) -> Column:
    """A row's Arrow bytes, estimated by a Spark expression so the probe
    can size the corpus without collecting it: exact for string and
    binary values and the float32 embedding, 16 bytes for any other
    scalar, the length of the string form for any other nested value,
    plus 8 bytes of offsets and validity per column."""
    total = F.lit(0)
    for f in df.schema.fields:
        c = df[f.name]
        if f.name == _VEC:
            b = F.greatest(F.size(c), F.lit(0)) * 4
        elif isinstance(f.dataType, (StringType, BinaryType)):
            b = F.octet_length(c)
        elif isinstance(f.dataType, AtomicType):
            b = F.lit(16)
        else:
            b = F.octet_length(c.cast("string"))
        total = total + F.coalesce(b, F.lit(0)) + 8
    return total


def _pin_corpus(corpus: DataFrame, id_col: str, dim: int
                ) -> tuple[_PinnedCorpus | None, dict[str, Any]]:
    """Collect the corpus once if it is provably small and servable by
    the driver kernels: (pin or None, the serving decision).

    One aggregate job first counts at most ``max_rows + 1`` rows and
    estimates their bytes; only a corpus within both bounds is then
    collected, and the collected table is checked against the byte
    bound again."""
    import pyarrow.compute as pc

    bound = ann._DRIVER_RW_BYTES
    max_rows = bound // (4 * dim)
    rows, est = (corpus.select(_row_bytes(corpus).alias("b"))
                 .limit(max_rows + 1)
                 .agg(F.count(F.lit(1)), F.sum("b")).first())
    serving: dict[str, Any] = {"path": "spark", "reason": "",
                               "rows": rows, "bytes": est or 0,
                               "bound_rows": max_rows,
                               "bound_bytes": bound}
    if rows > max_rows:
        serving["reason"] = f"more than {max_rows} rows"
        return None, serving
    if serving["bytes"] > bound:
        serving["reason"] = f"more than {bound} bytes"
        return None, serving
    table = corpus.limit(max_rows + 1).toArrow()
    serving.update(rows=table.num_rows, bytes=table.nbytes)
    vecs = table.column(_VEC).combine_chunks()
    flat = vecs.flatten()
    if table.num_rows > max_rows:
        serving["reason"] = f"more than {max_rows} rows"
    elif table.nbytes > bound:
        serving["reason"] = f"more than {bound} bytes"
    elif table.column(id_col).null_count or vecs.null_count \
            or flat.null_count:
        serving["reason"] = "null id or embedding"
    elif pc.any(pc.not_equal(pc.list_value_length(vecs), dim)).as_py():
        serving["reason"] = f"embedding length is not {dim}"
    else:
        mat = flat.to_numpy().reshape(table.num_rows, dim)
        if not np.isfinite(mat).all():
            serving["reason"] = "non-finite embedding value"
        else:
            serving.update(path="driver", reason="within bound")
            return _PinnedCorpus(table, corpus.schema, id_col, mat), serving
    return None, serving


class VectorSearchEngine:
    """Serving facade over a prepared documents corpus."""

    def __init__(self, spark: SparkSession, corpus: DataFrame,
                 embedder: EmbeddingBackend, id_col: str = "id",
                 cache: bool = True):
        self.spark = spark
        self.embedder = embedder
        self.id_col = id_col
        # Cached on either path: the probes and the pin read the corpus
        # once, and lsh/pq/ivfpq scan it again on a pinned engine too.
        self.corpus = corpus.cache() if cache else corpus
        self._pin, self.serving = _pin_corpus(self.corpus, id_col,
                                              embedder.dim)
        self._total: int | None = None
        self._ann: dict[str, Any] = {}

    @property
    def total_documents(self) -> int:
        if self._pin is not None:
            return self._pin.table.num_rows
        if self._total is None:
            self._total = self.corpus.count()
        return self._total

    # ----------------------------------------------------------- embeddings

    def _embed_texts(self, texts: list[str], prefix: str = "") -> list[list[float]]:
        """Embed all texts with one in-process kernel call, no Spark job
        (replaces Task.WhenAll of batch-1 inferences,
        EmbeddingService.cs:26-30)."""
        for t in texts:
            if t is None or not t.strip():
                raise ValueError("Text cannot be null or empty")
        return [v.tolist() for v in
                self.embedder.embed_batch([prefix + t for t in texts])]

    def get_embedding(self, text: str) -> dict[str, Any]:
        """POST /api/embeddings — raw text, no prefix."""
        vec = self._embed_texts([text])[0]
        return {"text": text, "embedding": vec, "dimensions": len(vec)}

    def get_embeddings_batch(self, texts: list[str]) -> dict[str, Any]:
        """POST /api/embeddings/batch."""
        vecs = self._embed_texts(texts)
        return {
            "results": [
                {"text": t, "embedding": v, "dimensions": len(v)}
                for t, v in zip(texts, vecs)
            ],
            "count": len(vecs),
        }

    # ----------------------------------------------------------- similarity

    def calculate_similarity(self, text1: str, text2: str,
                             include_embeddings: bool = False) -> dict[str, Any]:
        """POST /api/similarity — symmetric 'query: ' prefixes. Two
        vectors never need Spark: the driver twin of the cosine
        expression scores them on either serving path."""
        e1, e2 = self._embed_texts([text1, text2], prefix=QUERY_PREFIX)
        sim = round6_half_up(
            DriverVectors(np.asarray([e1], np.float32)).cosine(e2)[0])
        out: dict[str, Any] = {"text1": text1, "text2": text2,
                               "similarity": sim}
        if include_embeddings:
            out["embedding1"], out["embedding2"] = e1, e2
        return out

    # --------------------------------------------------------------- search

    def search(self, query_text: str, top_k: int = 5,
               include_embeddings: bool = False,
               threshold: float | None = None,
               method: str = "brute") -> dict[str, Any]:
        """POST /api/search — cosine top-k over the corpus.

        ``method`` selects the physical strategy (reference parity is
        ``"brute"``; the rest are the beyond-reference scale paths):
        ``"brute"`` exact scan, ``"ivf"`` partition-pruned nprobe search,
        ``"lsh"`` multi-probe hyperplane buckets, ``"pq"`` ADC over
        compressed codes + exact rescore, ``"ivfpq"`` the composed
        three-stage funnel (probe pruning x ADC x rescore). ANN indexes
        are built lazily on first use and cached on the engine
        (build-time artifacts)."""
        validate_top_k(top_k)
        qvec = self._embed_texts([query_text], prefix=QUERY_PREFIX)[0]
        if self._pin is not None and method in ("brute", "ivf"):
            results = self._pinned_search(method, qvec, top_k, threshold,
                                          include_embeddings)
        else:
            if method == "brute":
                from dotnetvectorsearch_spark.localdf import local_df
                query = local_df(self.spark, [(qvec,)],
                                 "query_embedding array<float>")
                hits_df = top_k_similar(
                    self.corpus, query, top_k=top_k, id_col=self.id_col,
                    threshold=threshold,
                    include_embeddings=include_embeddings, round_digits=6)
            else:
                hits_df = self._ann_search(method, qvec, top_k)
                if threshold is not None:
                    score = ("similarity" if "similarity" in hits_df.columns
                             else "approx_similarity")
                    hits_df = hits_df.filter(F.col(score) >= threshold)
            results = [r.asDict() for r in hits_df.collect()]
        return {
            "query": query_text,
            "results": results,
            "result_count": len(results),
            "total_documents": self.total_documents,
            "method": method,
        }

    def _pinned_search(self, method: str, qvec: list[float], top_k: int,
                       threshold: float | None,
                       include_embeddings: bool) -> list[dict[str, Any]]:
        """Brute or IVF top-k from the pin, with the Spark paths' output:
        brute rows carry the corpus columns, IVF rows only the id."""
        pin = self._pin
        if method == "brute":
            rows = None
            cols = [c for c in pin.table.column_names
                    if include_embeddings or c != _VEC]
        else:
            idx, cells = self._ivf()
            rows = np.flatnonzero(np.isin(cells, idx.probe_cells(qvec)))
            cols = [self.id_col]
        sims = pin.vectors.cosine(qvec, rows)
        ids = pin.ids if rows is None else pin.ids[rows]
        pos, scores = rank_top_k(sims, ids, top_k, threshold)
        if rows is not None:
            pos = rows[pos]
        return [dict(r, similarity=s)
                for r, s in zip(pin.rows(pos, cols), scores)]

    def _ivf(self) -> tuple[ann.IVFIndex, np.ndarray]:
        """The engine's IVF index over the pin and each row's cell, fit on
        the driver. A pin of at most ``MAX_SAMPLE`` rows is the whole
        training sample, so the centroids are identical to the Spark
        path's; a larger pin trains on a seeded sample of
        ``MAX_SAMPLE`` rows, kept in pin order."""
        if "ivf" not in self._ann:
            idx = ann.IVFIndex(**_IVF)
            mat = self._pin.mat
            if len(mat) > ann.MAX_SAMPLE:
                keep = np.random.RandomState(idx.seed).choice(
                    len(mat), ann.MAX_SAMPLE, replace=False)
                mat = mat[np.sort(keep)]
            idx.fit_matrix(mat)
            self._ann["ivf"] = (idx, idx._assign_cells(idx.centroids,
                                                       self._pin.mat))
        return self._ann["ivf"]

    def _ann_search(self, method: str, qvec: list[float], top_k: int):
        vecs = self.corpus.select(self.id_col, _VEC)
        if method == "ivf":
            if "ivf" not in self._ann:
                idx = ann.IVFIndex(**_IVF).fit(vecs)
                self._ann["ivf"] = (idx, idx.transform(vecs).persist())
            idx, indexed = self._ann["ivf"]
            return idx.search(indexed, qvec, top_k, id_col=self.id_col)
        if method == "lsh":
            if "lsh" not in self._ann:
                idx = ann.HyperplaneLSH(num_planes=12).fit(dim=len(qvec))
                self._ann["lsh"] = (idx, idx.transform(vecs).persist())
            idx, bucketed = self._ann["lsh"]
            return idx.search(bucketed, qvec, top_k, id_col=self.id_col)
        if method == "pq":
            if "pq" not in self._ann:
                idx = ann.PQIndex(m=16, n_codes=64).fit(vecs)
                self._ann["pq"] = (idx, idx.transform(vecs).persist())
            idx, encoded = self._ann["pq"]
            return idx.search(encoded, qvec, top_k, id_col=self.id_col,
                              rescore=vecs, shortlist=max(10 * top_k, 50))
        if method == "ivfpq":
            if "ivfpq" not in self._ann:
                idx = ann.IVFPQIndex(n_cells=16, nprobe=4, m=16,
                                 n_codes=64).fit(vecs)
                self._ann["ivfpq"] = (idx, idx.transform(vecs).persist())
            idx, indexed = self._ann["ivfpq"]
            return idx.search(indexed, qvec, top_k, id_col=self.id_col,
                              rescore=vecs, shortlist=max(10 * top_k, 50))
        raise ValueError(f"unknown search method: {method!r}")

    # ------------------------------------------------------------ documents

    def list_documents(self, include_embeddings: bool = False) -> dict[str, Any]:
        """GET /api/documents — full listing ORDER BY id."""
        if self._pin is not None:
            cols = [c for c in self._pin.table.column_names
                    if include_embeddings or c != _VEC]
            docs = self._pin.rows(np.argsort(self._pin.ids, kind="stable"),
                                  cols)
        else:
            docs = [r.asDict() for r in ordered_listing(
                self.corpus, id_col=self.id_col,
                include_embeddings=include_embeddings).collect()]
        return {"documents": docs, "count": len(docs)}

    # ---------------------------------------------------------------- misc

    def health(self) -> dict[str, Any]:
        """GET /health, plus the serving decision: ``path`` ("driver" or
        "spark"), ``reason``, and the probe's ``rows``/``bytes`` against
        ``bound_rows``."""
        return {
            "status": "healthy",
            "embedding_dimensions": self.embedder.dim,
            "total_documents": self.total_documents,
            "max_top_k": MAX_TOP_K,
            "serving": dict(self.serving),
        }
