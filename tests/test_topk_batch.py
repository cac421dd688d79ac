from __future__ import annotations

from pyspark.sql import functions as F

from dotnetvectorsearch_spark.operators.search import topk_per_query
from dotnetvectorsearch_spark.sources.io import load_table


def _run(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qs = (load_table(spark, sf_dir, "embeddings")
          .filter(F.col("vec_id") < 3)
          .select(F.col("vec_id").alias("qid"),
                  F.col("embedding").alias("qvec")))
    out = topk_per_query(emb, qs, k=4, round_digits=6)
    return sorted((r.qid, r.rank, r.vec_id, r.similarity)
                  for r in out.collect())


def test_topk_per_query_basic(spark, sf_dir):
    rows = _run(spark, sf_dir)
    assert len(rows) == 12  # 3 queries x k=4
    # self-similarity is rank 1 with score 1.0 for every query
    top1 = {(q, v): s for (q, r, v, s) in rows if r == 1}
    for q in (0, 1, 2):
        assert top1[(q, q)] == 1.0


def test_topk_per_query_matches_numpy_brute_force(spark, sf_dir):
    """Every query's k best docs, ranked over the whole corpus in numpy:
    cosine in double, rounded HALF_UP to 6 digits like the HOF path's
    ``F.round``, ordered similarity desc then id asc."""
    import numpy as np

    from dotnetvectorsearch_spark.operators.search import round6_half_up
    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding").collect()
    ids = np.asarray([r.vec_id for r in rows])
    mat = np.stack([np.asarray(r.embedding, dtype=np.float64)
                    for r in rows])
    norms = np.linalg.norm(mat, axis=1)
    want = []
    for qi in range(3):
        q = mat[ids == qi][0]
        sims = round6_half_up(mat @ q / (norms * np.linalg.norm(q)))
        order = np.lexsort((ids, -sims))[:4]
        want += [(qi, rank, int(ids[j]), float(sims[j]))
                 for rank, j in enumerate(order, 1)]
    assert _run(spark, sf_dir) == sorted(want)


def test_arrow_batch_matches_window_path(spark, sf_dir):
    from dotnetvectorsearch_spark.operators.search import topk_per_query_arrow
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qs = (load_table(spark, sf_dir, "embeddings")
          .filter(F.col("vec_id") < 3).select("vec_id", "embedding").collect())
    qvecs = [(r.vec_id, list(r.embedding)) for r in qs]
    arrow = sorted((r.qid, r.rank, r.vec_id, r.similarity)
                   for r in topk_per_query_arrow(emb, qvecs, k=4,
                                                 round_digits=6).collect())
    assert arrow == _run(spark, sf_dir)
