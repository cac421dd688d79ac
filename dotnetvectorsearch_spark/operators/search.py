"""Similarity search / ranking — the reference's query surface, Spark-first.

Covers the reference operators (SURVEY.md §2.4):
- Q1 brute-force cosine scan   (``WebAPI/Services/VectorSearchService.cs:186-193``)
- Q2 sort by similarity desc   (``:194``; stable-tie parity via id asc)
- Q3 top-k limit               (``:195``; topK default 5, validated 1-50,
                                ``WebAPI/Models/ApiModels.cs:67-68``)
- Q4 total-count scalar        (``:203``)
- Q5 pairwise text/vector similarity (``:95-129``)
- Q6 ordered full listing with embedding projection toggle (``:131-171``)
- Q7 threshold filter — declared in the reference README (README.md:130-140)
  but never implemented in its code; implemented here to honor the API.

Physical plan notes (the scale story):
- The query side is a 1-row DataFrame, always broadcast: Catalyst plans a
  ``BroadcastNestedLoopJoin`` — no shuffle of the (huge) corpus.
- ``orderBy(desc).limit(k)`` becomes ``TakeOrderedAndProject`` — each
  partition keeps a k-heap (O(N log k)) and only k rows per partition reach
  the driver-side merge. This strictly dominates the reference's global
  sort (O(N log N) after a full re-scan + JSON re-parse per query).
- The cosine expression is pure higher-order-function Catalyst code —
  JVM-side, inside whole-stage codegen, no Python in the per-row path.
- At ~1000 executors the corpus scan is embarrassingly parallel; the only
  single point is the k*num_partitions-row final merge, which is tiny.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dotnetvectorsearch_spark.functions.vector import cosine_similarity

DEFAULT_TOP_K = 5   # reference ApiModels.cs:68
MAX_TOP_K = 50      # reference ApiModels.cs:67


def validate_top_k(top_k: int) -> int:
    """Reference request validation: topK in [1, 50] (ApiModels.cs:67)."""
    if not 1 <= top_k <= MAX_TOP_K:
        raise ValueError(f"topK must be between 1 and {MAX_TOP_K}, got {top_k}")
    return top_k


def attach_query_vector(docs: DataFrame, query: DataFrame,
                        doc_vec: str = "embedding",
                        query_vec: str = "query_embedding") -> DataFrame:
    """Cross-join a 1-row query frame onto the corpus via broadcast."""
    return docs.crossJoin(F.broadcast(query))


def score_similarity(df: DataFrame,
                     doc_vec: str = "embedding",
                     query_vec: str = "query_embedding",
                     out: str = "similarity",
                     round_digits: int | None = None) -> DataFrame:
    sim: Column = cosine_similarity(doc_vec, query_vec)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return df.withColumn(out, sim)


def top_k_similar(docs: DataFrame, query: DataFrame, top_k: int = DEFAULT_TOP_K,
                  id_col: str = "id",
                  doc_vec: str = "embedding",
                  query_vec: str = "query_embedding",
                  threshold: float | None = None,
                  include_embeddings: bool = False,
                  round_digits: int | None = None) -> DataFrame:
    """Flagship search (reference POST /api/search semantics).

    Tie-break: similarity desc, then id asc — reproducing the reference's
    LINQ stable sort over an ORDER BY id scan (VectorSearchService.cs:142,194).
    """
    validate_top_k(top_k)
    scored = score_similarity(
        attach_query_vector(docs, query), doc_vec, query_vec,
        round_digits=round_digits,
    )
    if threshold is not None:
        scored = scored.filter(F.col("similarity") >= F.lit(threshold))
    scored = scored.drop(query_vec)
    if not include_embeddings:
        scored = scored.drop(doc_vec)
    return scored.orderBy(F.desc("similarity"), F.asc(id_col)).limit(top_k)


# ------------------------------------------------ exact driver-side twin
#
# A bounded corpus held on the driver is scored without a Spark job by
# the kernels below. They are bit-equal to :func:`top_k_similar` with
# ``round_digits=6``, not merely close: every sum folds in double, one
# dimension at a time, left to right — the evaluation order of the
# ``aggregate``/``zip_with`` expressions in ``functions/vector.py`` —
# and rounding follows Spark's ``F.round`` rule (pinned in
# tests/test_api.py against the Spark path).


def round6_half_up(x):
    """Replicate Spark ``F.round(col, 6)`` for float64 scalars/arrays.

    Spark rounds a double via ``BigDecimal.valueOf(x)`` — i.e. HALF_UP
    on the value's SHORTEST DECIMAL REPR — not on the binary double.
    The plain ``floor(|x|*1e6 + 0.5)`` construction rounds the binary
    product and diverges exactly at repr-tie boundaries: e.g.
    ``0.0001245`` (repr tie "…45") scales to ``124.4999…`` in binary
    and floors DOWN where Spark rounds UP to ``0.000125``. So:
    vectorized binary fast path, with the rare elements whose scaled
    value lies within 1e-7 of a ``.5`` boundary re-done exactly through
    ``Decimal(repr(x))`` HALF_UP — bit-for-bit the BigDecimal
    semantics, without paying per-element Decimal on the hot arrays.
    (``np.round`` is banker's half-even — wrong at every tie.)"""
    arr = np.atleast_1d(np.asarray(x, dtype=np.float64))
    absx = np.abs(arr)
    scaled = absx * 1e6
    out = np.copysign(np.floor(scaled + 0.5) / 1e6, arr)
    near = np.abs(scaled - np.floor(scaled) - 0.5) < 1e-7
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.000001")
        for i in zip(*np.nonzero(near)):
            exact = float(Decimal(repr(float(absx[i])))
                          .quantize(q, rounding=ROUND_HALF_UP))
            out[i] = float(np.copysign(exact, arr[i]))
    return out if np.ndim(x) else float(out[0])


def _fold(a_t: np.ndarray, b_t: np.ndarray) -> np.ndarray:
    """``sum_j a[j] * b[j]`` folded left to right in double over the
    leading (dimension) axis: ``aggregate(zip_with(a, b, x*y), 0.0,
    (acc, x) -> acc + x)``, element for element."""
    acc = np.zeros(np.broadcast_shapes(a_t.shape[1:], b_t.shape[1:]))
    for j in range(len(a_t)):
        acc += a_t[j] * b_t[j]
    return acc


class DriverVectors:
    """A driver-resident embedding matrix, scored by the exact
    twin of :func:`~dotnetvectorsearch_spark.functions.vector.cosine_similarity`.

    The matrix is stored dimension-major in double (each fold step is one
    contiguous row) and the row norms are folded once, so a query costs
    one ``dim``-step fold over ``n`` doubles."""

    def __init__(self, mat: np.ndarray):
        self.mat_t = np.ascontiguousarray(np.asarray(mat).T,
                                          dtype=np.float64)
        self.norms = np.sqrt(_fold(self.mat_t, self.mat_t))

    def cosine(self, query_vec, rows: np.ndarray | None = None
               ) -> np.ndarray:
        """Unrounded cosine of ``query_vec`` against every row (or the
        ``rows`` subset), with the reference's zero-magnitude guard."""
        q = np.asarray(query_vec, dtype=np.float32).astype(np.float64)
        mat_t, na = self.mat_t, self.norms
        if rows is not None:
            mat_t, na = mat_t[:, rows], na[rows]
        nb = np.sqrt(_fold(q, q))
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = _fold(mat_t, q) / (na * nb)
        return np.where((na == 0.0) | (nb == 0.0), 0.0, sims)


def rank_top_k(sims: np.ndarray, ids, top_k: int,
               threshold: float | None = None
               ) -> tuple[np.ndarray, list[float]]:
    """Positions and 6-digit-rounded scores of the top-k rows: rounded
    similarity desc, then id asc, then ``similarity >= threshold`` —
    the :func:`top_k_similar` contract (filtering before or after the
    cut keeps the same prefix, since the filter is monotone in the
    rounded score).

    Rounding is monotone, so only the band of rows whose raw score is
    within 2e-6 of the k-th best can round level with or above it; only
    that band is rounded and sorted."""
    n = len(sims)
    if n == 0:
        return np.zeros(0, dtype=np.int64), []
    kk = min(top_k, n)
    kth = np.partition(sims, n - kk)[n - kk]
    band = np.flatnonzero(sims >= kth - 2e-6)
    rounded = round6_half_up(sims[band])
    order = sorted(range(len(band)),
                   key=lambda i: (-rounded[i], ids[band[i]]))[:kk]
    scores = [float(rounded[i]) for i in order]
    if threshold is not None:
        order = [i for i, s in zip(order, scores) if s >= threshold]
        scores = [s for s in scores if s >= threshold]
    return band[order], scores


def _cosine(m: np.ndarray, q: np.ndarray) -> np.ndarray:
    """BLAS cosine of every row of ``m`` against ``q`` with the
    reference's zero-magnitude guard (a zero-norm side scores 0.0): a
    1-D query is one gemv ``m @ q`` (B), a 2-D panel one gemm
    ``m @ q.T`` (B x Q)."""
    qn = np.linalg.norm(q) if q.ndim == 1 else np.linalg.norm(q, axis=1)
    denom = np.multiply.outer(np.linalg.norm(m, axis=1), qn)
    ok = denom > 0.0
    return np.where(ok, (m @ q.T) / np.where(ok, denom, 1.0), 0.0)


def _scan_topk(docs: DataFrame, q: np.ndarray, k: int, id_col: str,
               vec_col: str, round_digits: int | None,
               qids: np.ndarray | None = None, exclude_self: bool = False,
               keep=None, cols: tuple[str, ...] = ()) -> DataFrame:
    """The Arrow panel scorer: one ``mapInPandas`` scores each batch
    with :func:`_cosine` and keeps each query's local top-k (similarity
    desc, id asc). ``q`` is one query (1-D, output ``(id, similarity)``)
    or a panel (2-D with ``qids``, output ``(qid, id, similarity)``).
    A panel row competes for query j only where the (B x Q) mask
    ``keep(pdf)`` allows it and, with ``exclude_self``, its id is not
    ``qids[j]``; ``cols`` are extra columns ``keep`` reads."""
    import pandas as pd

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            sims = _cosine(m, q)
            if round_digits is not None:
                sims = np.round(sims, round_digits)
            ids = pdf[id_col].to_numpy()
            sims = sims.reshape(len(ids), -1)        # one column per query
            ok = None if keep is None else keep(pdf)
            if exclude_self:
                ne = ids[:, None] != qids[None, :]
                ok = ne if ok is None else ok & ne
            out_q, out_id, out_s = [], [], []
            for j in range(sims.shape[1]):
                b_ids, b_sims = ids, sims[:, j]
                if ok is not None:
                    b_ids, b_sims = ids[ok[:, j]], b_sims[ok[:, j]]
                order = np.lexsort((b_ids, -b_sims))[:k]
                out_id.append(b_ids[order])
                out_s.append(b_sims[order])
                if qids is not None:
                    out_q.append(np.full(len(order), qids[j]))
            out = {id_col: np.concatenate(out_id),
                   "similarity": np.concatenate(out_s)}
            if qids is not None:
                out = {"qid": np.concatenate(out_q), **out}
            yield pd.DataFrame(out)

    schema = f"{id_col} long, similarity double"
    if qids is not None:
        schema = "qid long, " + schema
    return docs.select(id_col, vec_col, *cols).mapInPandas(score, schema)


def _rank_window(df: DataFrame, key: str, order_by: list[tuple[str, bool]],
                k: int, prefilter: bool = True,
                rank_col: str = "rank") -> DataFrame:
    """Keep the top ``k`` rows of every ``key`` group under the total
    order ``order_by`` (``[(column, descending), ...]``): one
    ``row_number`` window, rank in ``rank_col``.

    The window shuffles every input row on ``key`` — a skew bomb when
    keys are few. ``prefilter`` first keeps each Arrow batch's local
    top-k per key (``mapInPandas``, no shuffle), so the exchange carries
    ~(batches * keys * k) rows; correct because the order is total:
    every global top-k row is in its batch's local top-k. Inputs that
    are already per-batch top-k (the Arrow scorers) skip it."""
    from pyspark.sql.window import Window

    if prefilter:
        names = [c for c, _ in order_by]
        asc = [not d for _, d in order_by]

        def local_topk(batches):
            for pdf in batches:
                if len(pdf):
                    yield (pdf.sort_values(names, ascending=asc)
                           .groupby(key, sort=False).head(k))

        df = df.mapInPandas(local_topk, df.schema)
    w = Window.partitionBy(key).orderBy(
        *[F.col(c).desc() if d else F.col(c).asc() for c, d in order_by])
    return (df.withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= k))


def top_k_similar_arrow(docs: DataFrame, query_vec: list[float],
                        top_k: int = DEFAULT_TOP_K, id_col: str = "id",
                        vec_col: str = "embedding",
                        round_digits: int | None = None) -> DataFrame:
    """Vectorized physical variant of :func:`top_k_similar` for big
    corpora / wide vectors: per-Arrow-batch numpy matmul (BLAS) + local
    top-k, then a tiny global TakeOrdered merge. Same logical contract
    (cosine with zero-guards, similarity desc / id asc ties); measured
    ~4x faster than the interpreted higher-order-function expression at
    1M x 64-d, and the gap grows with dimension. Trade-off: the scan
    leaves the JVM, so use the HOF path when the query also needs
    codegen'd relational work fused into the same stage.
    """
    validate_top_k(top_k)
    q = np.asarray(query_vec, dtype=np.float64)
    return (_scan_topk(docs, q, top_k, id_col, vec_col, round_digits)
            .orderBy(F.desc("similarity"), F.asc(id_col)).limit(top_k))


def topk_per_query(docs: DataFrame, queries: DataFrame, k: int = DEFAULT_TOP_K,
                   doc_id: str = "vec_id", query_id: str = "qid",
                   doc_vec: str = "embedding", query_vec: str = "qvec",
                   round_digits: int | None = None,
                   exclude_self: bool = False) -> DataFrame:
    """Batch similarity join: the k most similar docs for EVERY query row.

    Plan: broadcast the (small) query set -> BroadcastNestedLoopJoin scores
    N*Q rows with zero corpus shuffle -> :func:`_rank_window` per query,
    whose Arrow prefilter keeps the exchange at ~(batches * Q * k) rows
    instead of N*Q.

    ``exclude_self=True`` drops rows where the doc id equals the query id
    BEFORE ranking — the leave-one-out protocol when the query set is
    drawn from the corpus itself (retrieval evaluation, kNN label
    propagation).
    """
    validate_top_k(k)
    sim = cosine_similarity(doc_vec, query_vec)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = (docs.select(doc_id, doc_vec)
              .crossJoin(F.broadcast(queries.select(query_id, query_vec)))
              .select(F.col(query_id), F.col(doc_id), sim.alias("similarity")))
    if exclude_self:
        scored = scored.filter(F.col(query_id) != F.col(doc_id))
    return _rank_window(scored, query_id,
                        [("similarity", True), (doc_id, False)], k)


def _panel(query_vecs: list) -> tuple[np.ndarray, np.ndarray]:
    """``[(qid, vector), ...]`` -> (qids, Q x D float64 query matrix)."""
    return (np.asarray([q for q, _ in query_vecs], dtype=np.int64),
            np.stack([np.asarray(v, dtype=np.float64)
                      for _, v in query_vecs]))


def topk_per_query_arrow(docs: DataFrame, query_vecs: list[tuple[int, list]],
                         k: int = DEFAULT_TOP_K, doc_id: str = "vec_id",
                         vec_col: str = "embedding",
                         round_digits: int | None = None,
                         exclude_self: bool = False) -> DataFrame:
    """Arrow/BLAS variant of :func:`topk_per_query`: one (B x D) @ (D x Q)
    matmul scores ALL queries against each Arrow batch, local top-k per
    query, then one small rank window. The production batch-query shape:
    per-element cost is a fused BLAS op instead of N*Q interpreted
    higher-order evaluations, and the shuffle carries ~batches*Q*k rows.
    `query_vecs` is [(qid, vector), ...] — small enough to ship in the
    UDF closure (it is the broadcast side by construction).
    ``exclude_self=True`` masks the doc whose id equals the query id
    before the local top-k (leave-one-out protocol).
    """
    validate_top_k(k)
    qids, qmat = _panel(query_vecs)
    local = _scan_topk(docs, qmat, k, doc_id, vec_col, round_digits,
                       qids=qids, exclude_self=exclude_self)
    return _rank_window(local, "qid", [("similarity", True), (doc_id, False)],
                        k, prefilter=False)


KNN_GRAPH_MAX_BROADCAST_ROWS = 2_000_000


def knn_graph(docs: DataFrame, k: int = 5, id_col: str = "vec_id",
              vec_col: str = "embedding",
              round_digits: int | None = None) -> DataFrame:
    """Exact k-nearest-neighbor graph: for EVERY row, its k most-cosine-similar
    other rows. Output: (id, neighbor_id, similarity), k rows per id.

    Plan: the corpus matrix is broadcast once (``sc.broadcast`` of the
    collected (ids, matrix) pair), then a single ``mapInPandas`` pass scores
    each Arrow batch against it with one BLAS matmul and emits each row's
    top-k locally — no shuffle at all, no window, and ranking happens where
    the scores are produced. Ties broken (similarity desc, neighbor id asc)
    after rounding so the cut is deterministic and engine-portable.

    Scale bounds: broadcast-side is O(N*d) floats — exact kNN this way is
    for corpora that fit an executor (~10^7 x 384-d = ~15 GB is the edge).
    The bound is ENFORCED, not advisory: the corpus is counted before any
    collect, and past ``KNN_GRAPH_MAX_BROADCAST_ROWS`` this raises
    instead of silently OOMing the driver at scale. Past the bound, the blocked
    approximate paths are the tool: ``dedup.embedding_neardup_pairs``
    (LSH-blocked) or ``ann.IVFIndex`` cell-join — same output contract,
    candidate-bounded.
    """
    import pandas as pd

    validate_top_k(k)
    n_rows = docs.count()
    if n_rows > KNN_GRAPH_MAX_BROADCAST_ROWS:
        raise ValueError(
            f"knn_graph is an exact broadcast kNN bounded at "
            f"KNN_GRAPH_MAX_BROADCAST_ROWS = "
            f"{KNN_GRAPH_MAX_BROADCAST_ROWS} rows (got {n_rows}); past "
            f"executor-fit use dedup.embedding_neardup_pairs (LSH-blocked) or "
            f"ann.IVFIndex (cell-partitioned) instead")
    rows = docs.select(id_col, vec_col).collect()
    all_ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    id_order = np.argsort(all_ids)  # sorted ids => column index IS the
    all_ids = all_ids[id_order]     # id-asc tiebreak rank
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    bc = docs.sparkSession.sparkContext.broadcast((all_ids, mat[id_order]))

    def score(batches):
        ids_c, mat_c = bc.value
        n = len(ids_c)
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            sims = _cosine(m, mat_c)
            if round_digits is not None:
                sims = np.round(sims, round_digits)
            bids = pdf[id_col].to_numpy()
            kk = min(k, n - 1)
            if kk <= 0:
                yield pd.DataFrame({id_col: [], "neighbor_id": [],
                                    "similarity": []})
                continue
            if round_digits is not None and round_digits <= 8 \
                    and n < (1 << 33):  # key fits int64: 10^8 * 2^33 < 2^63
                # Vectorized top-k: rounded sims fit an integer scale, so
                # (similarity desc, neighbor-id asc) collapses into ONE
                # int64 key = -sim_scaled * 2^33 + column-rank, selected
                # with argpartition — O(B*N) instead of a full per-row
                # lexsort (O(B*N log N) with huge constants at N=10^5+).
                si = np.rint(sims * 10.0 ** round_digits).astype(np.int64)
                key = -si * (1 << 33) + np.arange(n, dtype=np.int64)
                pos = np.searchsorted(ids_c, bids)
                pos_ok = (pos < n) & (ids_c[np.minimum(pos, n - 1)] == bids)
                rr = np.arange(len(bids))
                key[rr[pos_ok], pos[pos_ok]] = np.iinfo(np.int64).max
                part = np.argpartition(key, kk - 1, axis=1)[:, :kk]
                ordered = np.take_along_axis(
                    part, np.argsort(np.take_along_axis(key, part, axis=1),
                                     axis=1), axis=1)
                yield pd.DataFrame({
                    id_col: np.repeat(bids, kk),
                    "neighbor_id": ids_c[ordered].ravel(),
                    "similarity": np.take_along_axis(sims, ordered,
                                                     axis=1).ravel()})
                continue
            out_id, out_nb, out_s = [], [], []
            for r in range(len(bids)):
                mask = ids_c != bids[r]
                cand_ids, cand_s = ids_c[mask], sims[r][mask]
                order = np.lexsort((cand_ids, -cand_s))[:k]
                out_id.extend([bids[r]] * len(order))
                out_nb.extend(cand_ids[order])
                out_s.extend(cand_s[order])
            yield pd.DataFrame({id_col: out_id, "neighbor_id": out_nb,
                                "similarity": out_s})

    return docs.select(id_col, vec_col).mapInPandas(
        score, f"{id_col} long, neighbor_id long, similarity double")


def mmr_rerank(docs: DataFrame, query_vec: list[float], k: int = 5,
               fetch_k: int = 50, lambda_mult: float = 0.7,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Maximal-marginal-relevance diversified top-k: greedily pick the
    candidate maximizing ``lambda*sim(query) - (1-lambda)*max_sim(selected)``.

    Two-stage plan shaped for scale: the DISTRIBUTED part is the expensive
    one — a full-corpus top-``fetch_k`` scan (BLAS mapInPandas + small
    TakeOrdered merge, identical to :func:`top_k_similar_arrow`); the greedy
    diversification then runs driver-side over only ``fetch_k`` (<=50)
    candidate vectors, which is O(fetch_k^2 * d) on ~KBs of data — the same
    candidate-set contract every production MMR retriever uses. Determinism:
    similarities rounded to 6 digits, ties broken by id asc.
    """
    validate_top_k(k)
    cand = (top_k_similar_arrow(docs, query_vec, top_k=min(fetch_k, MAX_TOP_K),
                                id_col=id_col, vec_col=vec_col,
                                round_digits=6)
            .join(docs.select(id_col, vec_col), id_col, "inner")
            .collect())
    cand.sort(key=lambda r: (-r["similarity"], r[id_col]))
    ids = [r[id_col] for r in cand]
    qsims = np.asarray([r["similarity"] for r in cand])
    mat = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in cand])
    pair = _cosine(mat, mat)
    selected: list[int] = []
    remaining = list(range(len(ids)))
    while remaining and len(selected) < k:
        best, best_score = None, None
        for i in remaining:
            div = max((pair[i][j] for j in selected), default=0.0)
            score = lambda_mult * qsims[i] - (1.0 - lambda_mult) * div
            score = round(float(score), 6)
            if best_score is None or score > best_score:
                best, best_score = i, score
        selected.append(best)
        remaining.remove(best)
    spark = docs.sparkSession
    out = [(int(ids[i]), float(qsims[i]), r + 1)
           for r, i in enumerate(selected)]
    from dotnetvectorsearch_spark.localdf import local_df
    return local_df(spark, out,
                    f"{id_col} long, similarity double, mmr_rank long")


def pairwise_similarity(df: DataFrame, vec_a: str, vec_b: str,
                        out: str = "similarity",
                        round_digits: int | None = None) -> DataFrame:
    """Pairwise cosine (reference POST /api/similarity, both sides embedded
    with the symmetric "query: " prefix upstream)."""
    sim = cosine_similarity(vec_a, vec_b)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return df.withColumn(out, sim)


def ordered_listing(docs: DataFrame, id_col: str = "id",
                    include_embeddings: bool = True,
                    embedding_col: str = "embedding") -> DataFrame:
    """Full corpus listing ORDER BY id with the reference's manual
    embedding-projection toggle — in Spark the drop() lets Catalyst prune
    the (fat) vector column out of the Parquet scan entirely."""
    out = docs if include_embeddings else docs.drop(embedding_col)
    return out.orderBy(F.asc(id_col))


def corpus_count(docs: DataFrame) -> DataFrame:
    """Total-count scalar as a 1-row frame (reference TotalDocuments)."""
    return docs.agg(F.count(F.lit(1)).alias("total_documents"))


def hard_negative_mining(corpus: DataFrame, anchors: DataFrame,
                         k: int = DEFAULT_TOP_K, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         label_col: str = "label",
                         round_digits: int | None = None) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for
    every anchor row, the ``k`` corpus rows with the HIGHEST cosine
    similarity whose ``label_col`` DIFFERS from the anchor's — the
    near-miss negatives that make a contrastive batch informative
    (random in-batch negatives are trivially far at scale).

    Plan shape = :func:`topk_per_query` with the label-exclusion
    predicate applied BEFORE the per-batch local top-k: broadcast the
    (small) anchor set, score with a BroadcastNestedLoopJoin (zero
    corpus shuffle), drop same-label and self rows, Arrow-batched local
    top-k per anchor, then one rank window over ~batches*A*k rows.
    At 100 TB the corpus side stays a single scan; the window input is
    bounded by task-count * anchors * k, never N*A.

    Returns (anchor_id, {id_col}, similarity, rank), rank 1..k per
    anchor ordered similarity desc / id asc (stable ties, reference
    ordering contract VectorSearchService.cs:67-78).
    """
    validate_top_k(k)
    anc = F.broadcast(anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("_avec"),
        F.col(label_col).alias("_albl")))
    sim = cosine_similarity(vec_col, "_avec")
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = (corpus.select(id_col, vec_col, label_col)
              .crossJoin(anc)
              .filter((F.col(label_col) != F.col("_albl"))
                      & (F.col(id_col) != F.col("anchor_id")))
              .select("anchor_id", F.col(id_col),
                      sim.alias("similarity")))
    return _rank_window(scored, "anchor_id",
                        [("similarity", True), (id_col, False)], k)
