from __future__ import annotations

import numpy as np
import pytest

from dotnetvectorsearch_spark.api import VectorSearchEngine
from dotnetvectorsearch_spark.embeddings import DeterministicEmbedder
from dotnetvectorsearch_spark.pipeline.prepare import prepare_documents


@pytest.fixture(scope="module")
def engine(spark):
    raw = spark.createDataFrame(
        [(1, "How do I cancel my booking?", "Use the portal."),
         (2, "What is the refund policy?", "Refunds within 30 days."),
         (3, "How do I cancel my booking?", "Use the portal."),
         (4, "Where is check-in?", "Front desk, level 1.")],
        "id long, question string, answer string")
    emb = DeterministicEmbedder(dim=32)
    corpus = prepare_documents(raw, emb)
    return VectorSearchEngine(spark, corpus, emb)


def test_health(engine):
    h = engine.health()
    assert h["status"] == "healthy"
    assert h["total_documents"] == 4
    assert h["embedding_dimensions"] == 32


def test_get_embedding_no_prefix(engine):
    r = engine.get_embedding("hello world")
    assert r["dimensions"] == 32
    # raw text embedding differs from the query-prefixed one
    q = engine._embed_texts(["hello world"], prefix="query: ")[0]
    assert r["embedding"] != q


def test_get_embedding_rejects_blank(engine):
    with pytest.raises(ValueError):
        engine.get_embedding("   ")


def test_batch_preserves_order(engine):
    texts = ["alpha", "beta", "gamma"]
    out = engine.get_embeddings_batch(texts)
    assert out["count"] == 3
    singles = [engine.get_embedding(t)["embedding"] for t in texts]
    assert [r["embedding"] for r in out["results"]] == singles


def test_similarity_symmetric_and_self(engine):
    ab = engine.calculate_similarity("same text", "other text")
    ba = engine.calculate_similarity("other text", "same text")
    assert ab["similarity"] == ba["similarity"]
    self_sim = engine.calculate_similarity("same text", "same text")
    assert self_sim["similarity"] == pytest.approx(1.0, abs=1e-6)


def test_search_scores_duplicates_identically(engine):
    # Docs 1 and 3 have identical text -> identical embeddings -> identical
    # similarity, and the deterministic id tiebreak orders 1 before 3.
    # (The hash embedder has no cross-prefix semantics, so we assert the
    # ranking contract, not relevance.)
    out = engine.search("How do I cancel my booking? : Use the portal.",
                        top_k=4)
    assert out["total_documents"] == 4
    assert out["result_count"] == 4
    by_id = {r["id"]: r["similarity"] for r in out["results"]}
    assert by_id[1] == by_id[3]
    pos = [r["id"] for r in out["results"]]
    assert pos.index(1) + 1 == pos.index(3)


def test_search_validates_topk(engine):
    with pytest.raises(ValueError):
        engine.search("x", top_k=51)


def test_search_threshold_subset(engine):
    full = engine.search("refund policy", top_k=4)
    thr = engine.search("refund policy", top_k=4, threshold=0.5)
    full_ids = [r["id"] for r in full["results"]]
    thr_ids = [r["id"] for r in thr["results"]]
    assert set(thr_ids) <= set(full_ids)
    assert all(r["similarity"] >= 0.5 for r in thr["results"])


def test_list_documents_projection_toggle(engine):
    with_e = engine.list_documents(include_embeddings=True)
    without = engine.list_documents()
    assert [d["id"] for d in without["documents"]] == [1, 2, 3, 4]
    assert "embedding" in with_e["documents"][0]
    assert "embedding" not in without["documents"][0]


def test_search_method_selection(spark):
    """Every ANN method plugs into the same search call. With a semantic
    (lexical-overlap) embedder, the duplicated cancel-booking docs must
    top the exact ranking, and the candidate-scanning approximations
    (ivf: nprobe covers all 4 cells; pq: rescored shortlist covers the
    corpus) must agree. LSH may legitimately return fewer than k on a
    4-doc corpus (empty probe buckets) — only its ranking is checked."""
    from dotnetvectorsearch_spark.embeddings import HashedProjectionEmbedder
    raw = spark.createDataFrame(
        [(1, "How do I cancel my booking?", "Use the portal."),
         (2, "What is the refund policy?", "Refunds within 30 days."),
         (3, "How do I cancel my booking?", "Use the portal."),
         (4, "Where is check-in?", "Front desk, level 1.")],
        "id long, question string, answer string")
    emb = HashedProjectionEmbedder(dim=32)
    eng = VectorSearchEngine(spark, prepare_documents(raw, emb), emb)

    brute = eng.search("cancel my booking", top_k=2)
    assert brute["method"] == "brute"
    assert {r["id"] for r in brute["results"]} == {1, 3}
    for method in ("ivf", "pq", "ivfpq"):
        out = eng.search("cancel my booking", top_k=2, method=method)
        assert out["method"] == method
        assert {r["id"] for r in out["results"]} == {1, 3}, method
    lsh = eng.search("cancel my booking", top_k=2, method="lsh")
    hit_ids = {r["id"] for r in lsh["results"]}
    assert hit_ids <= {1, 2, 3, 4} and len(hit_ids) <= 2


def test_search_unknown_method_rejected(engine):
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown search method"):
        engine.search("anything", method="hnsw")


# ------------------------------------------------- serving path: the pin

def test_engine_pins_corpus(engine):
    """A corpus within the driver bound is pinned, and health() says so."""
    serving = engine.health()["serving"]
    assert serving["path"] == "driver", serving
    assert serving["rows"] == 4 <= serving["bound_rows"]
    assert 0 < serving["bytes"] <= serving["bound_bytes"]


def _jobs_launched(spark, fn) -> list[int]:
    """Spark job ids launched while ``fn`` runs, via a private job group."""
    sc = spark.sparkContext
    group = f"zero-jobs-{id(fn)}"
    sc.setJobGroup(group, "request")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_pinned_requests_launch_no_spark_jobs(engine, spark):
    """Every request type is answered from the pin with zero Spark jobs
    (the IVF fit on first use included). A fast path that silently never
    fires fails here, not in a benchmark."""
    requests = {
        "search": lambda: engine.search("refund policy", top_k=3),
        "search_threshold": lambda: engine.search(
            "refund policy", top_k=3, threshold=0.1,
            include_embeddings=True),
        "ann_search": lambda: engine.search("refund policy", top_k=3,
                                            method="ivf"),
        "similarity": lambda: engine.calculate_similarity("a b", "c d"),
        "embed_batch": lambda: engine.get_embeddings_batch(["x", "y"]),
        "list_documents": lambda: engine.list_documents(True),
        "health": engine.health,
    }
    for name, fn in requests.items():
        assert _jobs_launched(spark, fn) == [], name


@pytest.fixture(scope="module", params=["deterministic", "hashed"])
def engine_pair(request, spark, tmp_path_factory):
    """The same stored corpus served twice: pinned, and with the driver
    bound patched to 0 so construction falls back to the Spark path."""
    import random

    from dotnetvectorsearch_spark.embeddings import HashedProjectionEmbedder
    from dotnetvectorsearch_spark.operators import ann

    rng = random.Random(7)
    words = ("cancel booking refund policy hotel check in front desk "
             "level portal days within use where what how is the my "
             "do room late breakfast parking").split()
    rows = [(i, " ".join(rng.choice(words) for _ in range(6)),
             " ".join(rng.choice(words) for _ in range(5)))
            for i in range(1, 241)]
    emb = (DeterministicEmbedder(dim=32) if request.param == "deterministic"
           else HashedProjectionEmbedder(dim=32))
    raw = spark.createDataFrame(rows, "id long, question string, "
                                "answer string")
    path = str(tmp_path_factory.mktemp("corpus") / request.param)
    prepare_documents(raw, emb).write.parquet(path)
    corpus = spark.read.parquet(path)
    pinned = VectorSearchEngine(spark, corpus, emb)
    mp = pytest.MonkeyPatch()
    mp.setattr(ann, "_DRIVER_RW_BYTES", 0)
    try:
        fallback = VectorSearchEngine(spark, corpus, emb)
    finally:
        mp.undo()
    assert pinned.health()["serving"]["path"] == "driver"
    assert fallback.health()["serving"]["path"] == "spark"
    yield pinned, fallback
    fallback.corpus.unpersist()


def _same(a, b):
    """Identical results: values, float bits and dict key order."""
    assert a == b
    assert repr(a) == repr(b)


_QUERIES = ["cancel my booking", "refund policy days", "late breakfast",
            "where is the front desk parking"]


@pytest.mark.parametrize("method", ["brute", "ivf"])
def test_pinned_search_matches_spark_path(engine_pair, method):
    pinned, fallback = engine_pair
    for q in _QUERIES:
        for kw in ({}, {"threshold": 0.2}, {"include_embeddings": True},
                   {"top_k": 50, "threshold": 0.0}):
            got = pinned.search(q, method=method, **kw)
            assert got["result_count"] > 0, (q, kw)
            _same(got, fallback.search(q, method=method, **kw))


def test_pinned_ivf_index_matches_spark_path(engine_pair):
    pinned, fallback = engine_pair
    pinned.search("hotel", method="ivf")
    fallback.search("hotel", method="ivf")
    (p_idx, p_cells), (f_idx, f_indexed) = (pinned._ann["ivf"],
                                            fallback._ann["ivf"])
    assert np.array_equal(p_idx.centroids, f_idx.centroids)
    f_cells = dict(f_indexed.select("id", "cell").collect())
    assert {int(i): int(c) for i, c in zip(pinned._pin.ids, p_cells)} \
        == f_cells


def test_pinned_similarity_embeddings_listing_match_spark_path(
        engine_pair):
    pinned, fallback = engine_pair
    for a, b in zip(_QUERIES, reversed(_QUERIES)):
        for inc in (False, True):
            _same(pinned.calculate_similarity(a, b, include_embeddings=inc),
                  fallback.calculate_similarity(a, b,
                                                include_embeddings=inc))
    _same(pinned.get_embeddings_batch(_QUERIES),
          fallback.get_embeddings_batch(_QUERIES))
    for inc in (False, True):
        _same(pinned.list_documents(inc), fallback.list_documents(inc))
    _same(pinned.health()["total_documents"],
          fallback.health()["total_documents"])


def test_spark_path_counts_once_and_launches_jobs(engine_pair, spark):
    """Past the bound, requests run Spark jobs (so the zero-job check
    above can fail) but the document count is taken once per engine."""
    _, fallback = engine_pair
    fallback.search("hotel")
    assert _jobs_launched(spark, lambda: fallback.search("hotel"))
    assert _jobs_launched(spark, fallback.health) == []


def test_driver_cosine_bit_equal_to_spark_expression(engine_pair, spark):
    """The unrounded driver kernel equals the Spark cosine expression to
    the last bit (rounding to 6 digits would hide a different
    summation order)."""
    from dotnetvectorsearch_spark.functions.vector import cosine_similarity
    from dotnetvectorsearch_spark.localdf import local_df

    pinned, fallback = engine_pair
    for text in _QUERIES:
        q = pinned._embed_texts([text], prefix="query: ")[0]
        want = dict(fallback.corpus.crossJoin(
            local_df(spark, [(q,)], "q array<float>"))
            .select("id", cosine_similarity("embedding", "q")).collect())
        got = pinned._pin.vectors.cosine(q)
        assert [want[int(i)] for i in pinned._pin.ids] == got.tolist()


def test_udf_matches_in_process_kernel(engine_pair, spark):
    """The shared pandas UDF (one Arrow batch per row here) embeds
    bit-equal to the in-process kernel the engine calls."""
    from dotnetvectorsearch_spark.localdf import local_df

    pinned, _ = engine_pair
    emb = pinned.embedder
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        got = dict(local_df(spark, list(enumerate(_QUERIES)),
                            "i long, t string")
                   .select("i", emb.embed_column("t")).collect())
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       "10000")
    want = emb.embed_batch(_QUERIES)
    assert [got[i] for i in range(len(_QUERIES))] == want.tolist()


def test_ivf_fit_subsamples_a_large_pin_on_the_driver(engine_pair, spark,
                                                      monkeypatch):
    """A pin past the training-sample size fits IVF from a seeded
    sample of the pin: no Spark job, and the same centroids every time."""
    from dotnetvectorsearch_spark.operators import ann

    pinned, _ = engine_pair
    monkeypatch.setattr(ann, "MAX_SAMPLE", 100)
    fits = []
    for _ in range(2):
        pinned._ann.pop("ivf", None)
        assert _jobs_launched(spark, lambda: pinned.search(
            "hotel", method="ivf")) == []
        fits.append(pinned._ann["ivf"])
    assert np.array_equal(fits[0][0].centroids, fits[1][0].centroids)
    assert np.array_equal(fits[0][1], fits[1][1])
    pinned._ann.pop("ivf")


def test_wide_text_columns_refuse_the_pin(spark, monkeypatch):
    """Vectors within the bound but text columns past it: the probe
    refuses the pin on bytes before collecting the corpus, and the
    engine serves the same answers through Spark."""
    from dotnetvectorsearch_spark.operators import ann

    raw = spark.createDataFrame(
        [(i, f"question {i} " + "x" * 4000, f"answer {i}")
         for i in range(1, 9)], "id long, question string, answer string")
    emb = DeterministicEmbedder(dim=32)
    corpus = prepare_documents(raw, emb)
    monkeypatch.setattr(ann, "_DRIVER_RW_BYTES", 16 * 1024)
    wide = VectorSearchEngine(spark, corpus, emb)
    serving = wide.health()["serving"]
    assert serving["path"] == "spark", serving
    assert serving["reason"] == f"more than {16 * 1024} bytes"
    assert serving["rows"] == 8 <= serving["bound_rows"]
    assert serving["bytes"] > 8 * 2 * 4000
    monkeypatch.undo()
    narrow = VectorSearchEngine(spark, corpus, emb)
    assert narrow.health()["serving"]["path"] == "driver"
    _same(wide.search("question 3", top_k=3),
          narrow.search("question 3", top_k=3))
    wide.corpus.unpersist()
    narrow.corpus.unpersist()
