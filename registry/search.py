"""Vector, lexical and hybrid search queries and embedding analytics."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dotnetvectorsearch_spark.caching import SessionMemo, input_key
from dotnetvectorsearch_spark.embeddings import (
    DeterministicEmbedder, HashedProjectionEmbedder)
from dotnetvectorsearch_spark.functions import vector as V
from dotnetvectorsearch_spark.functions.vector import (
    matryoshka_truncate, register_sql_functions)
from dotnetvectorsearch_spark.operators import lexical as L
from dotnetvectorsearch_spark.operators import search as S
from dotnetvectorsearch_spark.operators.ann import (
    centroid_drift, centroids_by, group_diversity)
from dotnetvectorsearch_spark.operators.retrieval_eval import (
    dcg_term_case, idcg_case, retrieval_metrics)
from dotnetvectorsearch_spark.operators.search import hard_negative_mining
from dotnetvectorsearch_spark.sources.io import (
    embedding_from_json, embedding_to_json, load_table)

from registry import _collect_query_vec, cos


# Thresholds tuned on the driver's synthetic embeddings (64-d, unit-norm,
# 10 label clusters): cosine p90~0.17 / p99~0.30 vs a fixed query vector.
SEARCH_THRESHOLD = 0.2


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0,
               alias: str = "query_embedding") -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") == vec_id).select(
        F.col("embedding").alias(alias))


def _q_search_topk(spark, sf_dir):
    """Q1+Q2+Q3: brute-force cosine scan -> sort desc (id tiebreak) -> top-k."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = _query_vec(spark, sf_dir)
    return S.top_k_similar(emb, q, top_k=10, id_col="vec_id", round_digits=6)


def _q_search_topk_filtered(spark, sf_dir):
    """Filtered vector search: metadata predicate + cosine top-k in one
    plan — the filter reaches the parquet scan as a pushed filter
    (test_plans pins it), so the corpus rows outside the predicate are
    never scored. The everyday production search shape (tenant/label/
    language scoping) the reference cannot express at all."""
    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("label") == 3)
           .select("vec_id", "embedding"))
    q = _query_vec(spark, sf_dir)
    return S.top_k_similar(emb, q, top_k=10, id_col="vec_id",
                           round_digits=6)


def _q_search_topk_arrow(spark, sf_dir):
    """Arrow/BLAS physical variant of the flagship search — same logical
    result as search_topk, vectorized scan for big corpora."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = _collect_query_vec(spark, sf_dir)
    return S.top_k_similar_arrow(emb, qv, top_k=10, id_col="vec_id",
                                 round_digits=6)


def _q_search_threshold(spark, sf_dir):
    """Q7: similarity threshold filter (README-declared API surface)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = _query_vec(spark, sf_dir)
    scored = S.score_similarity(S.attach_query_vector(emb, q), round_digits=6)
    return (scored.filter(F.col("similarity") >= SEARCH_THRESHOLD)
            .select("vec_id", "similarity"))


def _q_pairwise_similarity(spark, sf_dir):
    """Q5: pairwise cosine between two stored vectors."""
    a = _query_vec(spark, sf_dir, 0, "vec_a")
    b = _query_vec(spark, sf_dir, 1, "vec_b")
    return S.pairwise_similarity(a.crossJoin(b), "vec_a", "vec_b",
                                 round_digits=6).select("similarity")


def _q_listing_projected(spark, sf_dir):
    """Q6 projection toggle: embedding column pruned out of the scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ordered_listing(emb, id_col="vec_id", include_embeddings=False)


def _q_vector_norms(spark, sf_dir):
    """P5+P6+P7: L2 norm, self dot product, norm-after-normalize."""
    emb = load_table(spark, sf_dir, "embeddings")
    unit = V.l2_normalize("embedding", keep_float=False)
    return emb.select(
        "vec_id",
        F.round(V.l2_norm("embedding"), 6).alias("norm"),
        F.round(V.dot("embedding", "embedding"), 6).alias("self_dot"),
        F.round(V.l2_norm(unit), 6).alias("unit_norm"),
    )


def _q_quantized_embeddings(spark, sf_dir):
    """Symmetric int8 vector quantization (4x storage cut for the vector
    column at 100 TB): per-vector scale + int8 codes, all codegen'd
    higher-order functions. The scale is materialized to a column FIRST
    so the transform lambda references a resolved attribute (O(d)/row,
    not O(d^2) re-evaluation per element). Codes are emitted as a JSON
    string: the oracle harness canonicalizes scalar columns only, and
    the JSON form is byte-comparable with DuckDB's to_json."""
    emb = load_table(spark, sf_dir, "embeddings")
    scaled = emb.withColumn("_scale", V.quantize_scale("embedding"))
    return scaled.select(
        "vec_id",
        F.round("_scale", 6).alias("scale"),
        F.to_json(V.quantize_int8("embedding", F.col("_scale")))
        .alias("q_json"))


def _q_json_codec_roundtrip(spark, sf_dir):
    """P3+P4: JSON TEXT vector codec (the reference's storage format)
    round-trips losslessly: cosine(decode(encode(v)), v) == 1."""
    emb = load_table(spark, sf_dir, "embeddings")
    enc = embedding_to_json(emb, "embedding", "embedding_json")
    dec = embedding_from_json(enc, "embedding_json", "roundtrip")
    return dec.select(
        "vec_id",
        F.round(V.cosine_similarity("roundtrip", "embedding"), 6)
        .alias("roundtrip_cosine"),
    )


def _q_topk_batch(spark, sf_dir):
    """Batch similarity join: top-5 docs for each of 5 query vectors in one
    plan — broadcast queries, zero corpus shuffle, Arrow-local top-k before
    the per-query rank window."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qs = (load_table(spark, sf_dir, "embeddings")
          .filter(F.col("vec_id") < 5)
          .select(F.col("vec_id").alias("qid"),
                  F.col("embedding").alias("qvec")))
    return S.topk_per_query(emb, qs, k=5, round_digits=6)


def _q_topk_batch_arrow(spark, sf_dir):
    """Arrow/BLAS variant of the batch similarity join: one matmul scores
    all 5 queries per batch; same logical result as topk_batch."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qs = (load_table(spark, sf_dir, "embeddings")
          .filter(F.col("vec_id") < 5).select("vec_id", "embedding")
          .collect())
    qvecs = [(r.vec_id, list(r.embedding)) for r in qs]
    return S.topk_per_query_arrow(emb, qvecs, k=5, round_digits=6)


def _q_sql_vector_search(spark, sf_dir):
    """SQL dialect surface for vector search: the vs_* SQL macros
    (functions/vector.py register_sql_functions) + scalar subquery."""
    register_sql_functions(spark)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("emb_v")
    return spark.sql("""
        SELECT vec_id,
               round(vs_cosine(embedding,
                   (SELECT embedding FROM emb_v WHERE vec_id = 0)), 6)
                   AS similarity
        FROM emb_v
        ORDER BY similarity DESC, vec_id ASC
        LIMIT 10
    """)


BM25_QUERY_TERMS = ["vector", "join", "fast"]


# The stored BM25 index per corpus state: keyed on
# caching.input_key(documents), so a corpus rewritten in place rebuilds
# its index instead of serving the old one.
_BM25_INDEX = SessionMemo(8)


def _bm25_index(spark, sf_dir):
    """The inverted index (term frequencies + IDF + avgdl) is a build-time
    artifact — at scale it's a STORED table, not recomputed per query.
    `build_index` materializes it once per corpus state as parquet
    tables bucketed+sorted by term (warehouse dir), memoized in
    _BM25_INDEX; every bm25_topk / hybrid_search call then scans only
    the matching postings via bucket/row-group pruning."""
    docs = load_table(spark, sf_dir, "documents")
    tag = re.sub(r"[^0-9A-Za-z]+", "_", sf_dir.rstrip("/").split("/")[-1])
    key = input_key(docs)
    return _BM25_INDEX.get_or_build(
        key and key + (tag,),
        lambda: L.build_index(docs, db="bm25idx", prefix=tag))


def _bm25_ranked(spark, sf_dir, k):
    tf, idf, avgdl = _bm25_index(spark, sf_dir)
    return L.bm25_topk(tf, idf, avgdl, BM25_QUERY_TERMS, k=k)


def _q_bm25_topk(spark, sf_dir):
    """Lexical BM25 top-15: posting-list equi-join on broadcast query
    terms over the distributed inverted index."""
    return _bm25_ranked(spark, sf_dir, k=15)


def _q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of BM25 (lexical) and
    cosine (vector) rankings, ids unified on doc_id == vec_id."""
    bm = L.attach_rank(_bm25_ranked(spark, sf_dir, k=50), "bm25")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = _query_vec(spark, sf_dir)
    cos = (S.top_k_similar(emb, q, top_k=50, id_col="vec_id",
                           round_digits=6)
           .select(F.col("vec_id").alias("doc_id"), "similarity"))
    cos = L.attach_rank(cos, "similarity")
    return L.rrf_fuse(bm, cos, k=15)


def _q_search_topk_binary(spark, sf_dir):
    """Binary (sign-bit) quantized search: Hamming distance over packed
    32-bit words — the 32x-compressed prefilter stage of a two-stage
    (binary scan -> exact rescore) plan. Hamming asc == SimHash cosine
    estimate desc; ties broken by id asc."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    packed = emb.select("vec_id", V.pack_signs("embedding").alias("code"))
    q = (load_table(spark, sf_dir, "embeddings")
         .filter(F.col("vec_id") == 0)
         .select(V.pack_signs("embedding").alias("qcode")))
    return (packed.crossJoin(F.broadcast(q))
            .select("vec_id",
                    V.hamming_distance("code", "qcode").alias("hamming"))
            .orderBy(F.asc("hamming"), F.asc("vec_id")).limit(10))


def _q_knn_graph(spark, sf_dir):
    """Exact kNN graph: 5 nearest neighbors for every vector (broadcast
    corpus matrix + BLAS mapInPandas, zero shuffle)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return S.knn_graph(emb, k=5, id_col="vec_id", round_digits=6)


def _q_search_topk_mmr(spark, sf_dir):
    """MMR-diversified top-k: distributed top-50 candidate scan, greedy
    driver-side diversification (lambda=0.7). The greedy loop is iterative
    but k is FIXED (5), so the oracle unrolls it into 5 argmax CTE steps —
    exact value-hash check, not rows-only."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = _collect_query_vec(spark, sf_dir)
    return S.mmr_rerank(emb, qv, k=5, fetch_k=50, lambda_mult=0.7,
                        id_col="vec_id")


def _q_embedding_drift(spark, sf_dir):
    """Embedding-distribution drift monitor: per-label centroid shift
    between an 'old' snapshot (even vec_ids) and a 'new' one (odd
    vec_ids, deterministically perturbed by +0.02*label per dim to
    simulate drift) — cosine and L2 of the exact centroids, the signal
    that decides when the persisted ANN index needs a refit."""
    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = (emb.filter(F.col("vec_id") % 2 == 1)
           .withColumn("embedding", F.transform(
               "embedding",
               lambda x: x + F.lit(0.02) * F.col("label"))))
    return centroid_drift(old, new, by="label")


def _q_label_diversity(spark, sf_dir):
    """Per-label embedding diversity (mean pairwise cosine) WITHOUT
    forming pairs: ||sum u||^2 identity over decimal-summed components —
    the redundancy signal per corpus slice, O(n) where pairwise is
    O(n^2)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return group_diversity(emb, "label", "embedding")


def _q_search_topk_matryoshka(spark, sf_dir):
    """Flagship search over a 16-dim matryoshka prefix of the 64-dim
    corpus — 4x less scan/FLOPs; cosine is scale-invariant so the
    un-renormalized slice ranks identically to the renormalized one."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", matryoshka_truncate("embedding", 16).alias("embedding"))
    q = _query_vec(spark, sf_dir).select(
        matryoshka_truncate("query_embedding", 16).alias("query_embedding"))
    return S.top_k_similar(emb, q, top_k=10, id_col="vec_id",
                           round_digits=6)


def _q_embed_documents(spark, sf_dir):
    """Prepare-pipeline embedding stage with the deterministic backend:
    passage-prefixed text -> Arrow-batched UDF -> unit vectors."""
    docs = load_table(spark, sf_dir, "documents")
    e = DeterministicEmbedder(dim=64)
    out = docs.withColumn("embedding", e.embed_column("text", kind="passage"))
    return out.select("doc_id",
                      F.round(V.l2_norm("embedding"), 6).alias("norm"),
                      F.size("embedding").alias("dim"))


def _q_text_search_e2e(spark, sf_dir):
    """Full reference-flagship flow with a REAL semantic backend that
    needs no model weights: embed the corpus (passage prefix) with the
    hashed-projection embedder, embed a text query (query prefix), cosine
    top-10. Lexical-overlap semantics: the hits actually share vocabulary
    with the query, unlike the hash-of-text test embedder."""
    e = HashedProjectionEmbedder(dim=64)
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.withColumn(
        "embedding", e.embed_column("text", kind="passage"))
    q_text = docs.filter(F.col("doc_id") == 0).select(
        e.embed_column("text", kind="query").alias("query_embedding"))
    return S.top_k_similar(corpus.select("doc_id", "embedding"), q_text,
                           top_k=10, id_col="doc_id", round_digits=6)


def _q_search_topk_quantized(spark, sf_dir):
    """Scalar-quantized search (the SQ8 scale path): corpus vectors stored
    as int8 codes + per-vector scale, scored against the full-precision
    query after on-the-fly dequantization. At 100 TB this cuts the scanned
    vector bytes 4x; recall loss is ~1e-3 in cosine (see
    test_quantize_roundtrip_fidelity). Asymmetric scoring (float query vs
    dequantized corpus) mirrors faiss SQ8 semantics.

    The codes frame is persisted: quantization is a write-time cost (codes
    live in parquet at scale), and the cache barrier also stops Catalyst's
    projection collapse from inlining the scale expression into the
    dequantize lambda (which would re-evaluate it per element — O(d^2)
    per row per query, measured 5x slower at sf0.1)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scale = V.quantize_scale("embedding")
    codes = emb.select(
        "vec_id", scale.alias("scale"),
        V.quantize_int8("embedding", scale).alias("q")).persist()
    deq = codes.select(
        "vec_id", V.dequantize("q", F.col("scale")).alias("embedding"))
    q = _query_vec(spark, sf_dir)
    return S.top_k_similar(deq, q, top_k=10, id_col="vec_id", round_digits=6)


def _q_label_centroids(spark, sf_dir):
    """Per-label embedding centroids (cluster analytics / k-means E-step)
    as a distributed exact aggregate — posexplode + decimal-sum + ordered
    re-assembly, no driver collect of vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    return centroids_by(emb, "label")


def _q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: per anchor
    (vec_id < 5) the 5 highest-cosine DIFFERENT-label vectors —
    broadcast anchors, zero corpus shuffle, Arrow local top-k ahead of
    the rank window (the skew-proof batch shape)."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 5)
    return hard_negative_mining(emb, anchors, k=5, round_digits=6)


def _q_retrieval_quality(spark, sf_dir):
    """Retrieval-quality metrics (MRR@10 / recall@10 / NDCG@10) for a
    4%-of-corpus query panel under the label-relevance leave-one-out
    protocol — the evaluation loop a production retrieval deployment
    runs beside its index (the reference serves raw top-k only;
    operators/retrieval_eval.py documents the float discipline that
    keeps the NDCG discounts oracle-exact)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") % 25 == 0)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec"),
                       F.col("label").alias("qlabel")))
    return retrieval_metrics(emb, queries, k=10)


def add_oracles(oracles: dict[str, str]) -> None:
    """Add this family's DuckDB oracle SQL to ``oracles``."""
    qvec = ("(SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings "
            "WHERE vec_id = 0)")
    oracles.update({
        "search_topk": f"""
            WITH q AS {qvec}
            SELECT e.vec_id,
                   round({cos.format(a='e.embedding', b='q.qe')}, 6) AS similarity
            FROM embeddings e CROSS JOIN q
            ORDER BY similarity DESC, e.vec_id ASC
            LIMIT 10
        """,
        "search_topk_filtered": f"""
            WITH q AS {qvec}
            SELECT e.vec_id,
                   round({cos.format(a='e.embedding', b='q.qe')}, 6) AS similarity
            FROM embeddings e CROSS JOIN q
            WHERE e.label = 3
            ORDER BY similarity DESC, e.vec_id ASC
            LIMIT 10
        """,
        "search_threshold": f"""
            WITH q AS {qvec}
            SELECT e.vec_id,
                   round({cos.format(a='e.embedding', b='q.qe')}, 6) AS similarity
            FROM embeddings e CROSS JOIN q
            WHERE round({cos.format(a='e.embedding', b='q.qe')}, 6)
                  >= {SEARCH_THRESHOLD}
        """,
        "pairwise_similarity": f"""
            SELECT round({cos.format(a='a.embedding', b='b.embedding')}, 6)
                   AS similarity
            FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) a
            CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 1) b
        """,
        "listing_projected": """
            SELECT vec_id, label FROM embeddings ORDER BY vec_id
        """,
        "vector_norms": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                       FROM embeddings),
            n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v)
            SELECT vec_id,
                   round(nrm, 6) AS norm,
                   round(list_dot_product(e, e), 6) AS self_dot,
                   round(CASE WHEN nrm > 1e-12 THEN
                       sqrt(list_dot_product(list_transform(e, x -> x / nrm),
                                             list_transform(e, x -> x / nrm)))
                       ELSE nrm END, 6) AS unit_norm
            FROM n
        """,
        "quantized_embeddings": """
            WITH s AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                       list_max(list_transform(
                           CAST(embedding AS DOUBLE[]), x -> abs(x)))
                       / 127.0 AS scale
                FROM embeddings
            )
            SELECT vec_id, round(scale, 6) AS scale,
                   CAST(to_json(CASE WHEN scale = 0
                        THEN list_transform(e, x -> 0)
                        ELSE list_transform(
                            e, x -> CAST(round(x / scale) AS INT))
                   END) AS VARCHAR) AS q_json
            FROM s
        """,
        "json_codec_roundtrip": f"""
            SELECT vec_id,
                   round({cos.format(a='embedding', b='embedding')}, 6)
                   AS roundtrip_cosine
            FROM embeddings
        """,
        "search_topk_quantized": f"""
            WITH s AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                       list_max(list_transform(
                           CAST(embedding AS DOUBLE[]), x -> abs(x)))
                       / 127.0 AS scale
                FROM embeddings
            ), codes AS (
                SELECT vec_id, scale,
                       CASE WHEN scale = 0
                            THEN list_transform(e, x -> 0)
                            ELSE list_transform(
                                e, x -> CAST(round(x / scale) AS INT))
                       END AS q
                FROM s
            ), deq AS (
                SELECT vec_id,
                       list_transform(
                           q, x -> CAST(CAST(x AS DOUBLE) * scale AS FLOAT))
                       AS de
                FROM codes
            )
            SELECT deq.vec_id,
                   round({cos.format(a='deq.de', b='q.qe')}, 6) AS similarity
            FROM deq CROSS JOIN {qvec} q
            ORDER BY similarity DESC, deq.vec_id ASC
            LIMIT 10
        """,
        "label_centroids": """
            WITH v AS (
                SELECT label, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings
            ), x AS (
                SELECT label, r.i AS pos, e[r.i] AS val
                FROM v, UNNEST(range(1, len(e) + 1)) AS r(i)
            ), m AS (
                SELECT label, pos,
                       round(CAST(SUM(CAST(val AS DECIMAL(27,12)))
                                  AS DOUBLE) / count(*), 6) AS mean_v
                FROM x GROUP BY label, pos
            )
            SELECT label, list(mean_v ORDER BY pos) AS centroid
            FROM m GROUP BY label
        """,
        "topk_batch": f"""
            WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 5),
            s AS (SELECT q.qid, e.vec_id,
                         round(list_cosine_similarity(
                             CAST(e.embedding AS DOUBLE[]), q.qv), 6)
                             AS similarity
                  FROM embeddings e CROSS JOIN q),
            r AS (SELECT qid, vec_id, similarity,
                         row_number() OVER (PARTITION BY qid
                             ORDER BY similarity DESC, vec_id ASC) AS rank
                  FROM s)
            SELECT qid, vec_id, similarity, rank FROM r WHERE rank <= 5
        """,
        "sql_vector_search": """
            SELECT vec_id,
                   round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]),
                       (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                        WHERE vec_id = 0)), 6) AS similarity
            FROM embeddings
            ORDER BY similarity DESC, vec_id ASC
            LIMIT 10
        """,
        "bm25_topk": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '\\s+'))
                           AS term
                FROM documents WHERE length(trim(text)) > 0
            ), tf AS (
                SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
            ), lens AS (
                SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
            ), stats AS (SELECT avg(doc_len) AS avgdl FROM lens),
            nd AS (SELECT count(*) AS n FROM documents),
            idf AS (
                SELECT term,
                       ln(1 + (nd.n - df + 0.5) / (df + 0.5)) AS idf
                FROM (SELECT term, count(DISTINCT doc_id) AS df FROM tf
                      WHERE term IN ('vector', 'join', 'fast')
                      GROUP BY 1), nd
            ), sc AS (
                SELECT tf.doc_id,
                       SUM(idf.idf * tf.tf * (1.2 + 1)
                           / (tf.tf + 1.2 * (1 - 0.75
                              + 0.75 * lens.doc_len / stats.avgdl))) AS s
                FROM tf
                JOIN idf USING (term)
                JOIN lens USING (doc_id), stats
                GROUP BY 1
            )
            SELECT doc_id, round(s, 6) AS bm25 FROM sc
            ORDER BY bm25 DESC, doc_id ASC LIMIT 15
        """,
        "hybrid_search": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '\\s+'))
                           AS term
                FROM documents WHERE length(trim(text)) > 0
            ), tf AS (
                SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
            ), lens AS (
                SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
            ), stats AS (SELECT avg(doc_len) AS avgdl FROM lens),
            nd AS (SELECT count(*) AS n FROM documents),
            idf AS (
                SELECT term,
                       ln(1 + (nd.n - df + 0.5) / (df + 0.5)) AS idf
                FROM (SELECT term, count(DISTINCT doc_id) AS df FROM tf
                      WHERE term IN ('vector', 'join', 'fast')
                      GROUP BY 1), nd
            ), sc AS (
                SELECT tf.doc_id,
                       round(SUM(idf.idf * tf.tf * (1.2 + 1)
                           / (tf.tf + 1.2 * (1 - 0.75
                              + 0.75 * lens.doc_len / stats.avgdl))), 6) AS s
                FROM tf
                JOIN idf USING (term)
                JOIN lens USING (doc_id), stats
                GROUP BY 1
            ), bm AS (
                SELECT doc_id,
                       row_number() OVER (ORDER BY s DESC, doc_id ASC)
                           AS rank_a
                FROM (SELECT * FROM sc ORDER BY s DESC, doc_id ASC LIMIT 50)
            ), cos AS (
                SELECT vec_id AS doc_id,
                       row_number() OVER (ORDER BY sim DESC, vec_id ASC)
                           AS rank_b
                FROM (
                    SELECT e.vec_id,
                           round(list_cosine_similarity(
                               CAST(e.embedding AS DOUBLE[]),
                               (SELECT CAST(embedding AS DOUBLE[])
                                FROM embeddings WHERE vec_id = 0)), 6) AS sim
                    FROM embeddings e
                    ORDER BY sim DESC, e.vec_id ASC LIMIT 50
                )
            )
            SELECT coalesce(bm.doc_id, cos.doc_id) AS doc_id,
                   round(coalesce(1.0 / (60 + rank_a), 0)
                         + coalesce(1.0 / (60 + rank_b), 0), 6) AS rrf
            FROM bm FULL OUTER JOIN cos ON bm.doc_id = cos.doc_id
            ORDER BY rrf DESC, doc_id ASC LIMIT 15
        """,
        # Hamming over packed sign bits == count of components whose sign
        # bit (x > 0) differs; the oracle computes it straight from the
        # float arrays, checking the bit-packing end-to-end.
        "search_topk_binary": """
            WITH q AS (SELECT embedding AS qe FROM embeddings
                       WHERE vec_id = 0)
            SELECT e.vec_id,
                   CAST(len(list_filter(
                       range(1, len(e.embedding) + 1),
                       i -> (e.embedding[i] > 0) != (q.qe[i] > 0)))
                       AS BIGINT) AS hamming
            FROM embeddings e CROSS JOIN q
            ORDER BY hamming ASC, e.vec_id ASC
            LIMIT 10
        """,
        "knn_graph": f"""
            SELECT a.vec_id, b.vec_id AS neighbor_id,
                   round({cos.format(a='a.embedding', b='b.embedding')}, 6)
                       AS similarity
            FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
            QUALIFY row_number() OVER (
                PARTITION BY a.vec_id
                ORDER BY round({cos.format(a='a.embedding',
                                           b='b.embedding')}, 6) DESC,
                         b.vec_id ASC) <= 5
        """,
        "search_topk_matryoshka": f"""
            WITH q AS (SELECT CAST(embedding[1:16] AS DOUBLE[]) AS qe
                       FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id,
                   round({cos.format(a='e.embedding[1:16]', b='q.qe')}, 6)
                       AS similarity
            FROM embeddings e CROSS JOIN q
            ORDER BY similarity DESC, e.vec_id ASC
            LIMIT 10
        """,
    })
    # the Arrow variants are physical plans of the same logical queries
    oracles["search_topk_arrow"] = oracles["search_topk"]
    oracles["topk_batch_arrow"] = oracles["topk_batch"]
    # group_diversity twin: same double normalization (sequential
    # left-to-right sum of squares, seeded at 0.0 — list_reduce over a
    # 0.0-prepended list reproduces Spark's fold order exactly), same
    # decimal casts on every cross-row sum.
    oracles["label_diversity"] = """
        WITH e AS (
            SELECT label, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ), nrm AS (
            SELECT label,
                   list_transform(v, x -> x / sqrt(
                       list_reduce(
                           list_prepend(CAST(0.0 AS DOUBLE),
                                        list_transform(v, y -> y * y)),
                           (a, b) -> a + b))) AS u
            FROM e
        ), ex AS (
            SELECT label, unnest(u) AS uu,
                   generate_subscripts(u, 1) AS pos
            FROM nrm
        ), pp AS (
            SELECT label, pos,
                   CAST(sum(CAST(uu AS DECIMAL(27,15))) AS DOUBLE) AS s,
                   sum(CAST(uu * uu AS DECIMAL(27,15))) AS usq,
                   count(*) AS n
            FROM ex GROUP BY label, pos
        ), ag AS (
            SELECT label,
                   CAST(sum(CAST(s * s AS DECIMAL(27,12))) AS DOUBLE)
                       AS sumsq,
                   CAST(sum(usq) AS DOUBLE) AS norms,
                   max(n) AS n
            FROM pp GROUP BY label
        )
        SELECT label, n,
               CASE WHEN n >= 2 THEN
                   round((sumsq - norms)
                         / (CAST(n AS DOUBLE)
                            * (CAST(n AS DOUBLE) - 1.0)), 6)
               END AS mean_pairwise_cosine
        FROM ag
    """
    oracles["hard_negatives"] = f"""
        WITH a AS (SELECT vec_id AS anchor_id,
                          CAST(embedding AS DOUBLE[]) AS avec,
                          label AS albl
                   FROM embeddings WHERE vec_id < 5),
        s AS (SELECT a.anchor_id, e.vec_id,
                     round({cos.format(a='e.embedding', b='a.avec')}, 6)
                         AS similarity
              FROM embeddings e JOIN a
                ON e.label <> a.albl AND e.vec_id <> a.anchor_id),
        r AS (SELECT anchor_id, vec_id, similarity,
                     row_number() OVER (PARTITION BY anchor_id
                         ORDER BY similarity DESC, vec_id ASC) AS rank
              FROM s)
        SELECT anchor_id, vec_id, similarity, rank FROM r WHERE rank <= 5
    """
    # MMR (k=5, fetch_k=50, lambda=0.7): greedy selection is iterative,
    # but k is FIXED, so the loop UNROLLS into 5 argmax steps — each
    # picks the candidate maximizing round(0.7*qsim - 0.3*max_sim(
    # selected), 6), ties broken exactly like the operator's first-hit
    # scan over the (-qsim, id)-ordered candidate list (ORDER BY score
    # DESC, qsim DESC, vec_id ASC). qsim is the round-6 candidate
    # similarity, the diversity term uses raw double cosine — both
    # matching operators/search.py::mmr_rerank bit-for-bit at 6 digits.
    _mmr_steps = []
    for _k in range(2, 6):
        _prev = "s1" if _k == 2 else f"sel{_k - 1}"
        _mmr_steps.append(f"""
        s{_k} AS (
          SELECT vec_id, qsim, emb, {_k} AS mmr_rank FROM (
            SELECT c.vec_id, c.qsim, c.emb,
                   round(0.7*c.qsim - 0.3*(SELECT max(
                       list_cosine_similarity(c.emb, s.emb))
                       FROM {_prev} s), 6) AS score
            FROM cand c
            WHERE c.vec_id NOT IN (SELECT vec_id FROM {_prev}))
          ORDER BY score DESC, qsim DESC, vec_id ASC LIMIT 1),
        sel{_k} AS (SELECT * FROM {_prev} UNION ALL SELECT * FROM s{_k}),""")
    oracles["search_topk_mmr"] = f"""
        WITH q AS {qvec},
        cand AS (
          SELECT e.vec_id,
                 round({cos.format(a='e.embedding', b='q.qe')}, 6) AS qsim,
                 CAST(e.embedding AS DOUBLE[]) AS emb
          FROM embeddings e CROSS JOIN q
          ORDER BY qsim DESC, e.vec_id ASC LIMIT 50),
        s1 AS (SELECT vec_id, qsim, emb, 1 AS mmr_rank FROM cand
               ORDER BY qsim DESC, vec_id ASC LIMIT 1),
        {"".join(_mmr_steps)}
        final AS (SELECT * FROM sel5)
        SELECT CAST(vec_id AS BIGINT) AS vec_id, qsim AS similarity,
               CAST(mmr_rank AS BIGINT) AS mmr_rank
        FROM final ORDER BY mmr_rank
    """
    # retrieval-quality metrics: the NDCG discount terms and ideal
    # cumulative sums are the SAME generated decimal-literal CASE text
    # the Spark plan embeds (operators/retrieval_eval.py) — no runtime
    # log2 on either side, exact decimal DCG sums, double ratios
    # rounded at 6.
    _dcg = dcg_term_case("t.rnk", 10)
    _idcg = idcg_case("lc.n_rel", 10)
    oracles["retrieval_quality"] = f"""
        WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
                          label AS ql
                   FROM embeddings WHERE vec_id % 25 = 0),
        s AS (SELECT q.qid, q.ql, e.vec_id, e.label,
                     round(list_cosine_similarity(
                         CAST(e.embedding AS DOUBLE[]), q.qv), 6)
                         AS similarity
              FROM embeddings e CROSS JOIN q
              WHERE e.vec_id <> q.qid),
        r AS (SELECT qid, ql, vec_id, label, similarity,
                     row_number() OVER (PARTITION BY qid
                         ORDER BY similarity DESC, vec_id ASC) AS rnk
              FROM s),
        t AS (SELECT * FROM r WHERE rnk <= 10),
        lc AS (SELECT label AS ql, COUNT(*) - 1 AS n_rel
               FROM embeddings GROUP BY label),
        per AS (SELECT t.qid, t.ql,
                       MAX(CASE WHEN t.label = t.ql
                                THEN CAST(1.0 AS DOUBLE) / t.rnk
                                ELSE CAST(0.0 AS DOUBLE) END) AS mrr_raw,
                       SUM(CASE WHEN t.label = t.ql THEN 1 ELSE 0 END)
                           AS hits,
                       SUM(CASE WHEN t.label = t.ql THEN {_dcg}
                                ELSE CAST(0 AS DECIMAL(20,12)) END)
                           AS dcg
                FROM t GROUP BY t.qid, t.ql)
        SELECT per.qid,
               round(mrr_raw, 6) AS mrr,
               round(CASE WHEN lc.n_rel > 0
                          THEN CAST(hits AS DOUBLE) /
                               CAST(lc.n_rel AS DOUBLE)
                          ELSE 0.0 END, 6) AS recall_at_k,
               round(CASE WHEN lc.n_rel > 0
                          THEN CAST(dcg AS DOUBLE) /
                               CAST({_idcg} AS DOUBLE)
                          ELSE 0.0 END, 6) AS ndcg_at_k
        FROM per JOIN lc ON per.ql = lc.ql
    """
    # embedding_drift: label_centroids' rounded-mean machinery on both
    # snapshot slices (odd side perturbed identically to the Spark
    # query), cosine/L2 of the assembled centroids
    oracles["embedding_drift"] = """
        WITH vo AS (
            SELECT label, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE vec_id % 2 = 0
        ), vn AS (
            SELECT label,
                   [x + 0.02 * label for x in CAST(embedding AS DOUBLE[])]
                       AS e
            FROM embeddings WHERE vec_id % 2 = 1
        ), mo AS (
            SELECT label, r.i AS pos,
                   round(CAST(SUM(CAST(e[r.i] AS DECIMAL(27,12)))
                              AS DOUBLE) / count(*), 6) AS m
            FROM vo, UNNEST(range(1, len(e) + 1)) AS r(i)
            GROUP BY label, r.i
        ), mn AS (
            SELECT label, r.i AS pos,
                   round(CAST(SUM(CAST(e[r.i] AS DECIMAL(27,12)))
                              AS DOUBLE) / count(*), 6) AS m
            FROM vn, UNNEST(range(1, len(e) + 1)) AS r(i)
            GROUP BY label, r.i
        ), co AS (
            SELECT label, list(m ORDER BY pos) AS c FROM mo GROUP BY 1
        ), cn AS (
            SELECT label, list(m ORDER BY pos) AS c FROM mn GROUP BY 1
        ), counts_o AS (
            SELECT label, count(*) AS n_old FROM vo GROUP BY 1
        ), counts_n AS (
            SELECT label, count(*) AS n_new FROM vn GROUP BY 1
        )
        SELECT coalesce(co.label, cn.label) AS label,
               CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
               CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
               CASE WHEN co.c IS NOT NULL AND cn.c IS NOT NULL THEN
                   round(list_cosine_similarity(co.c, cn.c), 6)
               END AS cosine_drift,
               CASE WHEN co.c IS NOT NULL AND cn.c IS NOT NULL THEN
                   round(sqrt(list_dot_product(
                       [co.c[i] - cn.c[i] for i in range(1, len(co.c) + 1)],
                       [co.c[i] - cn.c[i] for i in range(1, len(co.c) + 1)]
                   )), 6)
               END AS l2_drift
        FROM co FULL OUTER JOIN cn ON co.label = cn.label
        LEFT JOIN counts_o ON counts_o.label = coalesce(co.label, cn.label)
        LEFT JOIN counts_n ON counts_n.label = coalesce(co.label, cn.label)
    """
