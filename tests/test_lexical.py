from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dotnetvectorsearch_spark.operators import lexical as L


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame([
        Row(doc_id=1, text="spark vector search engine"),
        Row(doc_id=2, text="vector vector vector index"),
        Row(doc_id=3, text="relational query engine"),
        Row(doc_id=4, text="unrelated text entirely"),
    ])


def test_term_frequencies(spark, corpus):
    tf = {(r.doc_id, r.term): (r.tf, r.doc_len)
          for r in L.term_frequencies(corpus).collect()}
    assert tf[(2, "vector")] == (3, 4)
    assert tf[(1, "vector")] == (1, 4)


def test_idf_rare_term_scores_higher(spark, corpus):
    tf = L.term_frequencies(corpus)
    idf = {r.term: r.idf
           for r in L.inverse_doc_frequencies(tf, 4).collect()}
    assert idf["spark"] > idf["vector"]          # df=1 vs df=2
    assert idf["spark"] == pytest.approx(
        math.log(1 + (4 - 1 + 0.5) / 1.5))


def test_bm25_ranks_term_saturation(spark, corpus):
    tf = L.term_frequencies(corpus)
    idf = L.inverse_doc_frequencies(tf, 4)
    out = L.bm25_topk(tf, idf, avg_doc_len=3.75,
                      query_terms=["vector"], k=4)
    rows = out.collect()
    # doc 2 (tf=3) above doc 1 (tf=1); docs without the term absent
    assert [r.doc_id for r in rows] == [2, 1]
    assert rows[0].bm25 > rows[1].bm25


def test_materialized_index_roundtrip_and_pruned_query_plan(
        spark, corpus, tmp_path):
    """The stored index must answer queries identically to the in-memory
    build, with a query plan that SCANS the bucketed table (no tf-build
    stages: no Generate/explode) and pushes the term filter to parquet."""
    tf, idf, avgdl = L.build_index(corpus, db="bm25test", prefix="c1")
    assert avgdl == pytest.approx(3.5)  # (4 + 4 + 3 + 3) / 4
    # a later load reads the stored tables back without a rebuild
    tf2, idf2, avgdl2 = L.load_index(spark, db="bm25test", prefix="c1")
    assert avgdl2 == avgdl

    fresh_tf = L.term_frequencies(corpus)
    fresh_idf = L.inverse_doc_frequencies(fresh_tf, 4)
    want = L.bm25_topk(fresh_tf, fresh_idf, avgdl, ["vector"], k=4).collect()
    got = L.bm25_topk(tf, idf, avgdl, ["vector"], k=4).collect()
    assert [(r.doc_id, r.bm25) for r in got] == \
        [(r.doc_id, r.bm25) for r in want]

    q = L.bm25_topk(tf, idf, avgdl, ["vector"], k=4)
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    # zero index-build stages at query time: the explode/groupBy of
    # term_frequencies would show as Generate + an extra Exchange pair
    assert "Generate" not in plan
    # the term predicate reaches the parquet scan of the stored index
    # (a single-term isin folds to EqualTo; multi-term stays In)
    assert "PushedFilters: [IsNotNull(term), EqualTo(term" in plan \
        or "PushedFilters: [IsNotNull(term), In(term" in plan


def test_rrf_fusion_rewards_agreement(spark):
    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank int")
    b = spark.createDataFrame([(3, 1), (1, 2), (9, 3)], "doc_id long, rank int")
    out = L.rrf_fuse(a, b, k=4).collect()
    scores = {r.doc_id: r.rrf for r in out}
    # docs in both lists beat single-list docs
    assert scores[1] > scores[2] and scores[3] > scores[2]
    assert scores[1] == pytest.approx(1 / 61 + 1 / 62, abs=1e-6)
    assert set(scores) == {1, 2, 3, 9}


def test_registry_bm25_index_follows_in_place_rewrite(spark, tmp_path):
    """The registry's stored BM25 index is memoized on the documents'
    input state, not the sf_dir string: a corpus rewritten in place
    within one session serves the new corpus's rows."""
    from registry.search import _q_bm25_topk
    d = str(tmp_path / "bm25_sf")
    schema = "doc_id long, text string"
    spark.createDataFrame([(1, "vector join"), (2, "fast vector search")],
                          schema).write.parquet(f"{d}/documents.parquet")
    assert sorted(r.doc_id for r in _q_bm25_topk(spark, d).collect()) \
        == [1, 2]
    spark.createDataFrame([(7, "fast join"), (8, "unrelated words")],
                          schema).write.mode("overwrite") \
        .parquet(f"{d}/documents.parquet")
    assert [r.doc_id for r in _q_bm25_topk(spark, d).collect()] == [7]
