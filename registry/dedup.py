"""Exact, n-gram-Jaccard and embedding deduplication queries and the
duplicate-graph queries (clusters, weights, PageRank, semantic
clusters) built on them.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dotnetvectorsearch_spark.functions import text as T
from dotnetvectorsearch_spark.operators import search as S
from dotnetvectorsearch_spark.operators.dedup import (
    dup_span_stats, exact_dedup, exact_dedup_incremental,
    exact_dedup_keep_best, remove_duplicate_spans, winnow_fingerprints)
from dotnetvectorsearch_spark.operators.dedup_store import (
    ensure_bloom_store, serve_incremental_dedup)
from dotnetvectorsearch_spark.operators.graph import (
    connected_components, dedup_clusters, dedup_weights, pagerank_undirected)
from dotnetvectorsearch_spark.operators.neardup import (
    embedding_neardup_pairs, fuzzy_dup_pairs, jaccard_pairs,
    minhash_pairs_portable, ngram_novelty)
from dotnetvectorsearch_spark.sources.io import load_table

from registry import NEARDUP_COSINE_THRESHOLD, cos


def _q_fingerprint_dedup(spark, sf_dir):
    """Exact dedup: md5 fingerprint of normalized text -> group -> keep-first."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs.groupBy(T.fingerprint("text").alias("fp"))
            .agg(F.min("doc_id").alias("first_doc_id"),
                 F.count(F.lit(1)).alias("n_docs")))


def _q_jaccard_pairs(spark, sf_dir):
    """Near-dup detection: exact word-3-gram Jaccard via shingle inverted
    index (explode -> equi-join on shingle -> count arithmetic)."""
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.1)


def _q_embedding_neardup(spark, sf_dir):
    """Near-dup detection: cosine >= tau within a blocking key (label);
    the blocked-pairs shape that survives at scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, "vec_id", "embedding",
                                   block_col="label",
                                   threshold=NEARDUP_COSINE_THRESHOLD)


def _q_dedup_rows(spark, sf_dir):
    """Exact dedup keep-first: surviving doc ids after fingerprint dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select("doc_id")


_M64 = "18446744073709551616"


def _xxh64_ascii5_steps(gram_col: str) -> tuple[str, str]:
    """SELECT-list steps (lateral column aliases) computing Spark's
    ``xxhash64`` — standard XXH64, seed 42 — of a 5-byte ASCII string
    column in portable SQL, so the ENGINE winnow path (xxhash64 rolling
    hash) gets an exact external oracle instead of a rows-only check.

    Correct for inputs whose UTF-8 encoding is exactly 5 bytes (char
    5-grams of the ASCII test corpus; verified ASCII at the sf0.01
    oracle tier). XXH64 for len<32 skips the stripe accumulators: one
    4-byte lane, one 1-byte lane, then the avalanche. Every multiply is
    mod 2^64 via a 32-bit split (intermediates < 2^97, HUGEINT-safe);
    rotates/shifts are mul/div by powers of two; xor is DuckDB's
    integer ``xor``. Returns (select_items, final_alias); the final
    value is cast to signed BIGINT so MIN() ordering matches Spark's
    LongType exactly.
    """
    p1 = "11400714785074694791"
    p2 = "14029467366897019727"
    p3 = "1609587929392839161"
    p5 = "2870177450012600261"

    def mulmod(a: str, b: str) -> str:
        return (f"(({a} % 4294967296) * {b} + "
                f"(({a} // 4294967296) * {b}) % 4294967296 * 4294967296) "
                f"% {_M64}")

    def rotl(x: str, r: int) -> str:
        return f"({x} * {1 << r} % {_M64} + {x} // {1 << (64 - r)})"

    h0 = str((42 + 2870177450012600261 + 5) % (1 << 64))  # seed + P5 + len
    steps = [
        ("k32", f"CAST(ascii(substr({gram_col},1,1)) AS HUGEINT)"
                f" + ascii(substr({gram_col},2,1)) * 256"
                f" + ascii(substr({gram_col},3,1)) * 65536"
                f" + ascii(substr({gram_col},4,1)) * 16777216"),
        ("b4", f"CAST(ascii(substr({gram_col},5,1)) AS HUGEINT)"),
        ("x1", f"xor(CAST({h0} AS HUGEINT), k32 * {p1} % {_M64})"),
        ("r1", rotl("x1", 23)),
        ("h1", f"({mulmod('r1', p2)} + {p3}) % {_M64}"),
        ("x2", f"xor(h1, b4 * {p5} % {_M64})"),
        ("r2", rotl("x2", 11)),
        ("h2", mulmod("r2", p1)),
        ("a1", "xor(h2, h2 // 8589934592)"),       # h ^= h >> 33
        ("a2", mulmod("a1", p2)),
        ("a3", "xor(a2, a2 // 536870912)"),        # h ^= h >> 29
        ("a4", mulmod("a3", p3)),
        ("a5", "xor(a4, a4 // 4294967296)"),       # h ^= h >> 32
        ("hh", f"CAST(a5 - CASE WHEN a5 >= 9223372036854775808 "
               f"THEN {_M64} ELSE 0 END AS BIGINT)"),
    ]
    items = ",\n                   ".join(f"{e} AS {n}" for n, e in steps)
    return items, "hh"


def _q_doc_pagerank_lsh(spark, sf_dir):
    """Scale-correct twin of doc_pagerank: the same 5-iteration
    decimal-summed PageRank over the MinHash-LSH candidate graph
    instead of the quadratic exact-Jaccard graph (SCALING.md)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_pairs_portable(docs, "doc_id", "text",
                                   num_hashes=16, shingle_n=3, bands=4)
    return pagerank_undirected(pairs, "id_a", "id_b", iters=5)


def _q_dedup_clusters(spark, sf_dir):
    """Duplicate-cluster assignment: jaccard candidate pairs -> distributed
    connected components (min-label + pointer jumping) -> every doc mapped
    to its cluster's min id (= the canonical doc to keep)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.1)
    return dedup_clusters(docs, pairs, "doc_id")


def _q_winnow_fingerprints(spark, sf_dir):
    """Rolling-hash winnowing fingerprints, engine path (char-5-gram
    xxhash64, window 8): position-robust substring fingerprints per
    document; long hashes keep the window/shuffle payload small."""
    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, "doc_id", "text", k=5, w=8)


def _q_winnow_fingerprints_md5(spark, sf_dir):
    """Winnowing fingerprints, portable md5 twin — byte-identical in any
    engine, so it carries the DuckDB oracle for the winnow shape."""
    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, "doc_id", "text", k=5, w=8,
                               portable=True)


def _q_incremental_dedup(spark, sf_dir):
    """Incremental-ingest exact dedup: docs with doc_id % 5 == 0 arrive
    as the new batch; survivors are batch rows whose fingerprint is not
    already in the corpus (the other 80%), keep-first within batch."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return (exact_dedup_incremental(batch, corpus)
            .select("doc_id").orderBy("doc_id"))


def _q_dup_span_stats(spark, sf_dir):
    """Span-level duplicated-text fraction per document (word 10-grams
    occurring in >=2 docs — Lee et al. ACL'22 span dedup signal)."""
    docs = load_table(spark, sf_dir, "documents")
    return dup_span_stats(docs, "doc_id", "text", n=10, min_docs=2)


def _q_novelty_scores(spark, sf_dir):
    """Per-doc n-gram novelty (fraction of word 3-grams unique to the doc):
    corpus-level boilerplate/templating signal that pairwise dedup misses."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_novelty(docs, id_col="doc_id", text_col="text", shingle_n=3)


def _q_span_dedup_docs(spark, sf_dir):
    """Duplicate-span REMOVAL with reassembly (C4/RefinedWeb-style):
    non-overlapping 3-token chunks, global keep-first, docs rebuilt from
    surviving chunks. The removal counterpart of dup_span_stats."""
    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, "doc_id", "text", chunk_tokens=3)


def _q_dedup_keep_best(spark, sf_dir):
    """Keep-best exact dedup: per duplicate cluster keep the highest
    quality_score doc (tie -> lowest id) — the CCNet/RefinedWeb keep
    policy; one fingerprint shuffle, argmax as a min(struct) aggregate
    (no window)."""
    docs = load_table(spark, sf_dir, "documents")
    out = exact_dedup_keep_best(docs, T.quality_score("text"))
    return out.select("doc_id", F.col("cluster_size").cast("long")
                      .alias("cluster_size"))


def _q_fuzzy_dup_pairs(spark, sf_dir):
    """Blocked edit-distance near-dup join: share first-2-token block +
    length band, verify bounded levenshtein over the 40-char prefix."""
    docs = load_table(spark, sf_dir, "documents")
    return fuzzy_dup_pairs(docs, "doc_id", "text", prefix_chars=40,
                           block_tokens=2, max_dist=8)


def _q_doc_pagerank(spark, sf_dir):
    """Fixed-iteration (5) PageRank over the undirected word-3-gram
    Jaccard similarity graph (threshold 0.1) — the authority signal for
    choosing which near-duplicate copy to keep. Decimal-summed
    contributions make the doubles engine-portable."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", shingle_n=3,
                          threshold=0.1)
    return pagerank_undirected(pairs, "id_a", "id_b", iters=5)


def _q_dedup_weights(spark, sf_dir):
    """Soft dedup (SemDeDup-family): weight = 1/|duplicate cluster| so
    each distinct content unit contributes equal training mass —
    downweight instead of drop."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", shingle_n=3,
                          threshold=0.1)
    return dedup_weights(docs, pairs, "doc_id")


def _q_semantic_clusters(spark, sf_dir):
    """Semantic corpus clustering: exact kNN graph thresholded into
    edges, connected components as cluster ids, singletons keep their
    own id — the embedding-space twin of n-gram dedup_clusters."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    g = S.knn_graph(emb, k=5, id_col="vec_id", round_digits=6)
    edges = (g.filter(F.col("similarity") >= 0.35)
             .select(F.col("vec_id").alias("id_a"),
                     F.col("neighbor_id").alias("id_b")))
    comp = connected_components(edges, "id_a", "id_b")
    return (emb.select("vec_id")
            .join(comp.withColumnRenamed("node", "vec_id"),
                  "vec_id", "left")
            .select("vec_id",
                    F.coalesce("component", F.col("vec_id"))
                    .alias("cluster_id")))


def _q_semdedup_keep(spark, sf_dir):
    """SemDeDup (Abbas et al.'23): keep ONE representative (min id) per
    semantic near-dup cluster; clusters are the thresholded-kNN
    connected components of `semantic_clusters`. Output marks every
    vector kept/dropped — the embedding-space prune step a web-scale
    curation pipeline runs after n-gram dedup."""
    clusters = _q_semantic_clusters(spark, sf_dir)
    w = Window.partitionBy("cluster_id")
    return clusters.select(
        "vec_id", "cluster_id",
        (F.col("vec_id") == F.min("vec_id").over(w)).alias("kept"))


def _q_incremental_dedup_bloom(spark, sf_dir):
    """Bloom-prefiltered incremental dedup, SERVED from the persisted
    fingerprint+bloom store (dedup_store — the ann_store
    build-once/serve-many contract): IDENTICAL result to
    incremental_dedup (same oracle; serve == exact_dedup_incremental
    pinned in test_dedup), but the corpus is never scanned per call —
    the bloom comes off disk and the anti-join's corpus side is the
    narrow persisted fp table.
    First call per (sf_dir, corpus state) builds the store; bench.py
    times that build in its separately-reported build phase."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    path, _ = ensure_bloom_store(spark, sf_dir)
    # no global orderBy: the driver compare is order-insensitive and a
    # range-partitioned sort of the kept ids is a whole extra exchange
    # (sampling pass included) that no downstream consumer needs
    return serve_incremental_dedup(batch, spark, path, ids_only=True)


def add_oracles(oracles: dict[str, str]) -> None:
    """Add this family's DuckDB oracle SQL to ``oracles``."""
    oracles.update({
        "fingerprint_dedup": """
            SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                   min(doc_id) AS first_doc_id,
                   count(*) AS n_docs
            FROM documents
            GROUP BY 1
        """,
        "jaccard_pairs": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id,
                       t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
            ), sizes AS (
                SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
            ), inter AS (
                SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS n_inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT ia AS id_a, ib AS id_b,
                   round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE),
                         6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = ia
            JOIN sizes sb ON sb.doc_id = ib
            WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE),
                        6) >= 0.1
        """,
        "embedding_neardup": f"""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round({cos.format(a='a.embedding', b='b.embedding')}, 6)
                       AS cosine
            FROM embeddings a
            JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round({cos.format(a='a.embedding', b='b.embedding')}, 6)
                  >= {NEARDUP_COSINE_THRESHOLD}
        """,
        "dedup_rows": """
            SELECT min(doc_id) AS doc_id
            FROM documents
            GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
        """,
        "dedup_clusters": """
            WITH RECURSIVE toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id,
                       t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
            ), sizes AS (
                SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
            ), inter AS (
                SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS n_inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ), pairs AS (
                SELECT ia, ib
                FROM inter
                JOIN sizes sa ON sa.doc_id = ia
                JOIN sizes sb ON sb.doc_id = ib
                WHERE round(n_inter /
                            CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE),
                            6) >= 0.1
            ), edges AS (
                SELECT ia AS a, ib AS b FROM pairs
                UNION
                SELECT ib AS a, ia AS b FROM pairs
            ), reach AS (
                SELECT a AS node, a AS r FROM edges
                UNION
                SELECT e.b AS node, reach.r
                FROM reach JOIN edges e ON e.a = reach.node
            ), comp AS (
                SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
            )
            SELECT d.doc_id,
                   COALESCE(c.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        """,
        "incremental_dedup": """
            WITH fp AS (
                SELECT doc_id,
                       md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                                               'g'))) AS fp
                FROM documents
            ), batch AS (
                SELECT * FROM fp WHERE doc_id % 5 = 0
            ), corpus AS (
                SELECT DISTINCT fp FROM fp WHERE doc_id % 5 <> 0
            ), fresh AS (
                SELECT b.doc_id, b.fp FROM batch b
                WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
            )
            SELECT min(doc_id) AS doc_id FROM fresh GROUP BY fp
            ORDER BY doc_id
        """,
        "dup_span_stats": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents
            ), g AS (
                SELECT doc_id, array_to_string(t[i:i+9], ' ') AS g
                FROM toks, UNNEST(range(1, len(t) - 8)) AS r(i)
                WHERE len(t) >= 10
            ), dupg AS (
                SELECT g FROM (SELECT DISTINCT doc_id, g FROM g)
                GROUP BY g HAVING count(*) >= 2
            ), tot AS (
                SELECT doc_id, count(*) AS n_spans FROM g GROUP BY doc_id
            ), dup AS (
                SELECT g.doc_id, count(*) AS n_dup_spans
                FROM g JOIN dupg USING (g) GROUP BY g.doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(tot.n_spans, 0) AS BIGINT) AS n_spans,
                   CAST(COALESCE(dup.n_dup_spans, 0) AS BIGINT)
                       AS n_dup_spans,
                   CASE WHEN COALESCE(tot.n_spans, 0) > 0
                        THEN round(COALESCE(dup.n_dup_spans, 0)
                                   / CAST(tot.n_spans AS DOUBLE), 6)
                        ELSE 0.0 END AS dup_frac
            FROM documents d
            LEFT JOIN tot USING (doc_id)
            LEFT JOIN dup USING (doc_id)
        """,
        "winnow_fingerprints_md5": """
            WITH n AS (
                SELECT doc_id,
                       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
                FROM documents
            ), g AS (
                SELECT doc_id, CAST(i AS INT) AS pos,
                       md5(substring(t, CAST(i AS INT), 5)) AS h
                FROM n, UNNEST(range(1, length(t) - 3)) AS r(i)
            ), w AS (
                SELECT doc_id,
                       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN CURRENT ROW
                                    AND 7 FOLLOWING) AS fp
                FROM g
            )
            SELECT DISTINCT doc_id, fp FROM w
        """,
        "novelty_scores": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id,
                       t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
            ), freq AS (
                SELECT s, count(*) AS df FROM sh GROUP BY 1
            )
            SELECT sh.doc_id, count(*) AS n_shingles,
                   round(sum(CASE WHEN freq.df = 1 THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 6) AS novelty
            FROM sh JOIN freq ON sh.s = freq.s
            GROUP BY 1
        """,
    })
    # best-3 per source under the same composite quality score the
    # quality_scores oracle defines (reused verbatim as a CTE body).
    # kNN edges (same SQL as the knn_graph oracle, reused verbatim)
    # thresholded, symmetrized, closed transitively via recursive CTE —
    # min reachable id is the cluster id; isolated vectors keep their own.
    oracles["semantic_clusters"] = f"""
        WITH RECURSIVE knn AS ({oracles["knn_graph"]}),
        p AS (
            SELECT vec_id AS ia, neighbor_id AS ib FROM knn
            WHERE similarity >= 0.35
        ), edges AS (
            SELECT ia AS a, ib AS b FROM p
            UNION
            SELECT ib AS a, ia AS b FROM p
        ), reach AS (
            SELECT a AS node, a AS r FROM edges
            UNION
            SELECT e.b AS node, reach.r
            FROM reach JOIN edges e ON e.a = reach.node
        ), comp AS (
            SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
        )
        SELECT emb.vec_id,
               COALESCE(c.cluster_id, emb.vec_id) AS cluster_id
        FROM embeddings emb LEFT JOIN comp c ON c.node = emb.vec_id
    """
    oracles["span_dedup_docs"] = """
        WITH t AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
            FROM documents
        ), tok AS (
            SELECT doc_id, unnest(toks) AS tk,
                   generate_subscripts(toks, 1) - 1 AS pos
            FROM t
        ), ch AS (
            SELECT doc_id, pos // 3 AS cid,
                   string_agg(tk, ' ' ORDER BY pos) AS chunk
            FROM tok GROUP BY doc_id, pos // 3
        ), kept AS (
            SELECT doc_id, cid, chunk FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY chunk ORDER BY doc_id, cid) AS rn
                FROM ch)
            WHERE rn = 1
        ), tot AS (
            SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id
        )
        SELECT k.doc_id,
               string_agg(k.chunk, ' ' ORDER BY k.cid) AS text,
               any_value(t.n_chunks) AS n_chunks,
               count(*) AS n_kept
        FROM kept k JOIN tot t USING (doc_id)
        GROUP BY k.doc_id
    """
    oracles["fuzzy_dup_pairs"] = """
        WITH d AS (
            SELECT doc_id, trim(text) AS tx,
                   string_split_regex(trim(text), '\\s+') AS t
            FROM documents
        ), k AS (
            SELECT doc_id, t[1] || ' ' || t[2] AS blk,
                   substr(tx, 1, 40) AS pfx
            FROM d WHERE len(t) >= 2
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(levenshtein(a.pfx, b.pfx) AS INT) AS dist
        FROM k a JOIN k b
          ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE abs(len(a.pfx) - len(b.pfx)) <= 8
          AND levenshtein(a.pfx, b.pfx) <= 8
    """
    # PageRank: the Spark loop unrolled — every arithmetic step mirrors
    # graph.pagerank_undirected exactly (double division per
    # contribution, DECIMAL(27,15) order-independent sums, the same
    # (1.0 - 0.85)/N evaluation order), so rounded doubles are bit-equal.
    pr = """
        WITH jp AS ({jp}),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM jp
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM jp
        ), deg AS (
            SELECT src, count(*) AS deg FROM edges GROUP BY src
        ), nn AS (SELECT count(*) AS n FROM deg),
        r0 AS (
            SELECT src, deg,
                   CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
            FROM deg
        ){iters}
        SELECT src AS node, round(rank, 6) AS pagerank FROM r5
    """
    pr_iters = ""
    for i in range(1, 6):
        pr_iters += f""", r{i} AS (
            SELECT d.src, d.deg,
                   (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                       / (SELECT n FROM nn)
                   + CAST(0.85 AS DOUBLE) * s.s AS rank
            FROM deg d JOIN (
                SELECT e.dst AS src,
                       CAST(sum(CAST(p.rank / p.deg AS DECIMAL(27,15)))
                            AS DOUBLE) AS s
                FROM edges e JOIN r{i - 1} p ON p.src = e.src
                GROUP BY e.dst) s ON s.src = d.src)"""
    oracles["doc_pagerank"] = pr.format(jp=oracles["jaccard_pairs"],
                                        iters=pr_iters)
    # dedup_clusters reused verbatim; weight = 1.0 / count, both engines
    # double/bigint division then round
    oracles["dedup_weights"] = f"""
        WITH dc AS ({oracles["dedup_clusters"]}),
        sz AS (
            SELECT cluster_id, count(*) AS cluster_size
            FROM dc GROUP BY cluster_id
        )
        SELECT dc.doc_id, dc.cluster_id, sz.cluster_size,
               round(CAST(1.0 AS DOUBLE) / sz.cluster_size, 6) AS weight
        FROM dc JOIN sz USING (cluster_id)
    """
    # bloom prefilter is an optimization, not a semantics change:
    # identical oracle to incremental_dedup
    oracles["incremental_dedup_bloom"] = oracles["incremental_dedup"]
    oracles["semdedup_keep"] = f"""
        WITH sc AS ({oracles["semantic_clusters"]}),
        m AS (SELECT cluster_id, min(vec_id) AS keeper
              FROM sc GROUP BY 1)
        SELECT sc.vec_id, sc.cluster_id,
               (sc.vec_id = m.keeper) AS kept
        FROM sc JOIN m USING (cluster_id)
    """
    # ENGINE winnow path (xxhash64 rolling hash): exact XXH64-in-SQL
    # over the 5-byte ASCII grams (_xxh64_ascii5_steps) — the last
    # engine-hash query that needed a rows-only waiver.
    _xx_items, _xx_final = _xxh64_ascii5_steps("gram")
    oracles["winnow_fingerprints"] = f"""
        WITH n AS (
            SELECT doc_id,
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
            FROM documents
        ), g AS (
            SELECT doc_id, CAST(i AS INT) AS pos,
                   substring(t, CAST(i AS INT), 5) AS gram
            FROM n, UNNEST(range(1, length(t) - 3)) AS r(i)
        ), h AS (
            SELECT doc_id, pos,
                   {_xx_items}
            FROM g
        ), w AS (
            SELECT doc_id,
                   min({_xx_final}) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW
                                AND 7 FOLLOWING) AS fp
            FROM h
        )
        SELECT DISTINCT doc_id, fp FROM w
    """
    oracles["doc_pagerank_lsh"] = pr.format(
        jp=oracles["minhash_pairs_md5"], iters=pr_iters)
    # dedup_keep_best: quality_scores' exact score expression reused as
    # a CTE; keep policy = row_number over (quality DESC, doc_id ASC)
    # per normalized-text fingerprint — identical ordering to the
    # engine's min(struct(-score, id)) aggregate
    oracles["dedup_keep_best"] = f"""
        WITH q AS ({oracles["quality_scores"]}),
        d AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text),
                                           '\\s+', ' ', 'g'))) AS fp
            FROM documents
        ), r AS (
            SELECT d.doc_id,
                   row_number() OVER (
                       PARTITION BY d.fp
                       ORDER BY q.quality DESC, d.doc_id ASC) AS rn,
                   count(*) OVER (PARTITION BY d.fp) AS cluster_size
            FROM d JOIN q ON q.doc_id = d.doc_id
        )
        SELECT doc_id, CAST(cluster_size AS BIGINT) AS cluster_size
        FROM r WHERE rn = 1
    """
