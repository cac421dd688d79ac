"""Search-operator tests: top-k contract, thresholding, tie-break, plans.

Also asserts the *physical plan* properties that make the operators scale
(broadcast join, TakeOrderedAndProject, column pruning) — the plan IS the
product at 100 TB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dotnetvectorsearch_spark.operators import search as S
from dotnetvectorsearch_spark.sources.io import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def qvec(spark, sf_dir):
    return (load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == 0)
            .select(F.col("embedding").alias("query_embedding")))


def test_topk_self_match_first(spark, emb, qvec):
    rows = S.top_k_similar(emb, qvec, top_k=5, id_col="vec_id").collect()
    assert len(rows) == 5
    assert rows[0].vec_id == 0
    assert rows[0].similarity == pytest.approx(1.0, abs=1e-6)
    sims = [r.similarity for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_topk_subset_of_topk_plus_one(spark, emb, qvec):
    k5 = {r.vec_id for r in S.top_k_similar(emb, qvec, 5, "vec_id").collect()}
    k6 = {r.vec_id for r in S.top_k_similar(emb, qvec, 6, "vec_id").collect()}
    assert k5 <= k6


def test_threshold_subset_of_unfiltered(spark, emb, qvec):
    thr = S.top_k_similar(emb, qvec, 10, "vec_id", threshold=0.2).collect()
    assert all(r.similarity >= 0.2 for r in thr)
    unfiltered = {r.vec_id for r in S.top_k_similar(emb, qvec, 10, "vec_id").collect()}
    assert {r.vec_id for r in thr} <= unfiltered


def test_topk_validation_bounds(spark, emb, qvec):
    with pytest.raises(ValueError):
        S.validate_top_k(0)
    with pytest.raises(ValueError):
        S.validate_top_k(51)
    assert S.validate_top_k(50) == 50


def test_topk_plan_is_broadcast_take_ordered(spark, emb, qvec):
    plan = S.top_k_similar(emb, qvec, 5, "vec_id")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_listing_projection_prunes_scan(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    df = S.ordered_listing(emb, id_col="vec_id", include_embeddings=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "embedding" not in df.columns
    # the fat vector column must not be read from parquet at all
    assert "ReadSchema" in plan and "embedding" not in \
        plan.split("ReadSchema")[1].split("\n")[0]


def test_corpus_count(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    assert S.corpus_count(docs).collect()[0].total_documents == docs.count()


def test_arrow_topk_matches_hof_path(spark, sf_dir):
    from dotnetvectorsearch_spark.sources.io import load_table
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = emb.filter(F.col("vec_id") == 0).first().embedding
    q = spark.createDataFrame([(qv,)], "query_embedding array<float>")
    hof = [(r.vec_id, r.similarity) for r in
           S.top_k_similar(emb, q, top_k=10, id_col="vec_id",
                           round_digits=6).collect()]
    arrow = [(r.vec_id, r.similarity) for r in
             S.top_k_similar_arrow(emb, list(qv), top_k=10, id_col="vec_id",
                                   round_digits=6).collect()]
    assert arrow == hof


def test_arrow_paths_score_zero_vectors_zero(spark):
    """A zero-norm doc and a zero-norm query score 0.0 on every
    Arrow/BLAS path, exactly as :func:`S.top_k_similar`'s guard does."""
    import numpy as np

    from dotnetvectorsearch_spark.operators.ann import (
        IVFIndex, ivf_topk_panel)
    vecs = [[1.0, 0.0, 0.0, 0.0], [0.6, 0.8, 0.0, 0.0],
            [0.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0],
            [0.5, 0.5, 0.5, 0.5]]           # doc 2 is the zero vector
    docs = spark.createDataFrame(list(enumerate(vecs)),
                                 "vec_id long, embedding array<float>")
    panel = [(2, vecs[2]), (0, vecs[0])]    # a zero and a unit query

    def hof(qv):
        q = spark.createDataFrame([(qv,)], "query_embedding array<float>")
        return [(r.vec_id, r.similarity) for r in S.top_k_similar(
            docs, q, top_k=5, id_col="vec_id", round_digits=6).collect()]

    want = {qid: hof(qv) for qid, qv in panel}
    assert all(s == 0.0 for _, s in want[2])
    assert dict(want[0])[2] == 0.0
    for qid, qv in panel:
        assert [(r.vec_id, r.similarity) for r in S.top_k_similar_arrow(
            docs, qv, top_k=5, id_col="vec_id",
            round_digits=6).collect()] == want[qid]
    flat = sorted((q, i, s) for q, rows in want.items() for i, s in rows)
    ivf = IVFIndex(n_cells=2, nprobe=2).fit_matrix(
        np.asarray(vecs, dtype=np.float32))
    for got in (S.topk_per_query_arrow(docs, panel, k=5, round_digits=6),
                ivf_topk_panel(ivf.transform(docs), ivf, panel, k=5,
                               round_digits=6)):
        assert sorted((r.qid, r.vec_id, r.similarity)
                      for r in got.collect()) == flat
    sims = {i: dict(hof(v)) for i, v in enumerate(vecs)}
    knn = S.knn_graph(docs, k=4, round_digits=6).collect()
    assert len(knn) == 20
    for r in knn:
        assert r.similarity == sims[r.vec_id][r.neighbor_id]
    assert all(r.similarity == 0.0 for r in knn if 2 in
               (r.vec_id, r.neighbor_id))


# ------------------------------------------------------------- kNN graph

def test_knn_graph_matches_bruteforce(spark, sf_dir):
    import numpy as np

    from dotnetvectorsearch_spark.sources.io import load_table
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    got = S.knn_graph(emb, k=3, id_col="vec_id", round_digits=6).collect()
    rows = emb.collect()
    ids = np.asarray([r.vec_id for r in rows])
    mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = np.round(mat @ mat.T, 6)
    by_id = {}
    for g in got:
        by_id.setdefault(g.vec_id, []).append((g.neighbor_id, g.similarity))
    assert len(by_id) == len(ids)
    for r, i in enumerate(ids):
        mask = ids != i
        order = np.lexsort((ids[mask], -sims[r][mask]))[:3]
        expect = [(int(ids[mask][j]), float(sims[r][mask][j])) for j in order]
        assert by_id[i] == expect


def test_knn_graph_k_rows_per_id_and_no_self(spark, sf_dir):
    from dotnetvectorsearch_spark.sources.io import load_table
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    g = S.knn_graph(emb, k=5, id_col="vec_id")
    assert g.count() == 5 * n
    assert g.filter(F.col("vec_id") == F.col("neighbor_id")).count() == 0


def test_knn_graph_guard_refuses_oversized_corpus(spark, sf_dir,
                                                  monkeypatch):
    # The exact-kNN broadcast is bounded: past
    # KNN_GRAPH_MAX_BROADCAST_ROWS it must raise (pointing at the
    # blocked LSH/IVF paths) BEFORE any collect — a driver OOM at 100x
    # scale must never be silent.
    import pytest

    from dotnetvectorsearch_spark.sources.io import load_table
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    monkeypatch.setattr(S, "KNN_GRAPH_MAX_BROADCAST_ROWS", 10)
    with pytest.raises(ValueError, match="embedding_neardup_pairs"):
        S.knn_graph(emb, k=3, id_col="vec_id")


# ------------------------------------------------------------- MMR rerank

def test_mmr_first_pick_is_top1_and_k_rows(spark, sf_dir):
    from dotnetvectorsearch_spark.sources.io import load_table
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    top1 = S.top_k_similar_arrow(emb, qv, top_k=1, id_col="vec_id",
                                 round_digits=6).collect()[0]
    mmr = (S.mmr_rerank(emb, qv, k=5, id_col="vec_id")
           .orderBy("mmr_rank").collect())
    assert len(mmr) == 5
    assert mmr[0].vec_id == top1.vec_id
    assert len({r.vec_id for r in mmr}) == 5


def test_mmr_lambda_one_equals_plain_topk(spark, sf_dir):
    from dotnetvectorsearch_spark.sources.io import load_table
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    plain = [r.vec_id for r in S.top_k_similar_arrow(
        emb, qv, top_k=5, id_col="vec_id", round_digits=6).collect()]
    mmr = [r.vec_id for r in S.mmr_rerank(
        emb, qv, k=5, lambda_mult=1.0, id_col="vec_id")
        .orderBy("mmr_rank").collect()]
    assert mmr == plain


def test_hard_negative_mining_excludes_same_label_and_self(spark, sf_dir):
    from dotnetvectorsearch_spark.operators.search import (
        hard_negative_mining,
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    anchors = emb.filter("vec_id < 5")
    out = hard_negative_mining(emb, anchors, k=5, round_digits=6)
    rows = out.collect()
    labels = {r.vec_id: r.label for r in
              emb.select("vec_id", "label").collect()}
    by_anchor = {}
    for r in rows:
        assert r.vec_id != r.anchor_id
        assert labels[r.vec_id] != labels[r.anchor_id]
        by_anchor.setdefault(r.anchor_id, []).append(r)
    assert set(by_anchor) == {0, 1, 2, 3, 4}
    for aid, rs in by_anchor.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        sims = [r.similarity for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_hard_negative_mining_matches_bruteforce(spark, sf_dir):
    import numpy as np

    from dotnetvectorsearch_spark.operators.search import (
        hard_negative_mining,
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pdf = emb.toPandas()
    anchors = emb.filter("vec_id < 3")
    got = {(r.anchor_id, r.rank): r.vec_id
           for r in hard_negative_mining(emb, anchors, k=4,
                                         round_digits=6).collect()}
    m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(m, axis=1)
    ids = pdf["vec_id"].to_numpy()
    lbl = pdf["label"].to_numpy()
    for a in range(3):
        ai = int(np.where(ids == a)[0][0])
        sims = np.round((m @ m[ai]) / (norms * norms[ai]), 6)
        cand = [(round(-s, 6), int(i)) for s, i, l in zip(sims, ids, lbl)
                if l != lbl[ai] and i != a]
        cand.sort()
        for rank, (_s, i) in enumerate(cand[:4], start=1):
            assert got[(a, rank)] == i
