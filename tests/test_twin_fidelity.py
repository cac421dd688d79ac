"""Pins for TWIN_FIDELITY.md — the LSH twins must keep recovering the
exact operators' answers (VERDICT r4 #1: the 100x-scale story rests on
the twins, so their fidelity gets regression floors, not just a one-off
measurement).

Floors are set from the measured sf0.001 values (all 1.0 — see
TWIN_FIDELITY.md for sf0.01/sf0.1) with a small safety margin; the
banding s-curve and multi-probe pins use constructed corpora with KNOWN
near-dup structure so the floor is a property of the algorithm, not of
the testdata tier.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dotnetvectorsearch_spark.operators.ann import HyperplaneLSH
from tools.twin_fidelity import (cluster_fidelity, pair_fidelity,
                                 pagerank_fidelity)


def test_pair_twin_recall_and_precision_floor(spark, sf_dir):
    """The portable 16-hash/4x4 twin and the 64-hash/16x4 production
    pipeline must both recover every dedup-relevant (jaccard >= 0.5)
    exact pair at the test tier, and the twin must stay precise against
    the >= 0.1 contract it feeds."""
    r = pair_fidelity(spark, sf_dir)
    assert r["n_exact_pairs_ge_0.1"] >= 20  # tier sanity: non-trivial
    assert r["twin_recall_ge_0.5"] >= 0.99
    assert r["prod_recall_ge_0.5"] >= 0.99
    assert r["twin_precision_ge_0.1"] >= 0.99


def test_cluster_twin_keeper_agreement_floor(spark, sf_dir):
    r = cluster_fidelity(spark, sf_dir)
    assert r["same_keeper_rate"] >= 0.99
    assert r["ari"] >= 0.95


def test_pagerank_twin_rank_fidelity_floor(spark, sf_dir):
    r = pagerank_fidelity(spark, sf_dir)
    assert r["node_coverage"] >= 0.95
    assert r["spearman_common"] >= 0.95


def test_semdedup_twin_kept_agreement_floor(spark, sf_dir):
    """Regression floor for the semdedup LSH twin's DOWNSTREAM
    agreement (advisor r5: the cluster/pagerank twins had floors, this
    one only had a per-pair survival citation). Measured 0.662 at
    sf0.01 / 0.7325 at sf0.1 on the uniform embedding tier — honest
    and LOW: at cosine 0.35 on near-uniform vectors, hamming<=2
    multi-probe recovers ~40-50% of exact pairs, and connected
    components amplify single missed edges into split clusters
    (TWIN_FIDELITY.md documents the caveat; the clustered-corpus pin
    below is the algorithm-quality check). The floor catches a
    regression, not a promise of high fidelity."""
    from tools.twin_fidelity import semdedup_fidelity
    r = semdedup_fidelity(spark, sf_dir)
    assert r["kept_agreement_rate"] >= 0.6


# --------------------------------------------------- banding s-curve pin


def _mutated_corpus(spark, n_pairs: int = 40, n_filler: int = 80):
    """n_pairs (doc, near-dup copy) pairs — the copy drops the LAST word,
    so word-3-gram jaccard is high but < 1 — plus unrelated filler."""
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
             "theta", "iota", "kappa", "lam", "mu"]
    rows = []
    for i in range(n_pairs):
        base = " ".join(words[(i + j) % len(words)] + str(i)
                        for j in range(14))
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base.rsplit(" ", 1)[0]))
    for i in range(n_filler):
        rows.append((10_000 + i,
                     " ".join(f"w{i}x{j}" for j in range(14))))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("bands,floor", [(4, 0.95), (8, 0.99)])
def test_banding_recall_floor_as_bands_vary(spark, bands, floor):
    """P[candidate | s] = 1-(1-s^r)^b: with 16 hashes and s ~ 0.86
    (13/15 shared 3-grams), 4 bands x 4 rows gives ~0.93 per pair and
    8 bands x 2 rows ~0.9998 — recall must stay above the stated floor
    at BOTH band settings, and may only improve with more bands."""
    from dotnetvectorsearch_spark.operators.dedup import (
        minhash_pairs_portable)
    docs = _mutated_corpus(spark)
    cand = minhash_pairs_portable(docs, "doc_id", "text", num_hashes=16,
                                  shingle_n=3, bands=bands)
    hits = (cand.filter((F.col("id_a") % 2 == 0)
                        & (F.col("id_b") == F.col("id_a") + 1)).count())
    assert hits / 40 >= floor


# ------------------------------------- mid-jaccard s-curve bucket pins


def test_mid_jaccard_bucket_recall_floors(spark):
    """Per-bucket twin/prod recall on the planted mid-jaccard tier
    (gen_scale_tier.gen_documents_mutated): the driver tiers' dup pairs
    are all near-identical, so the [0.1,0.9) region — where banding
    actually loses pairs — was previously unmeasured (VERDICT r5
    missing #2). Floors sit safely under the analytic s-curve
    P = 1-(1-s^r)^b at each bucket midpoint (twin 4x4: 0.006/0.10/
    0.43/0.88/1.0; prod 16x4 verify>=0.5: -/-/0.89/0.998/1.0) — a
    regression in either generator or in the bucketing itself trips a
    floor or the monotonicity check."""
    from tools.gen_scale_tier import gen_documents_mutated
    from tools.twin_fidelity import pair_fidelity_docs

    docs = gen_documents_mutated(spark, 1600)
    r = pair_fidelity_docs(docs)
    b = r["by_jaccard_bucket"]
    mids = ["[0.3,0.5)", "[0.5,0.7)", "[0.7,0.9)"]
    # every mid bucket is populated and measured (the instrument works)
    assert all(b[k]["n_exact"] >= 50 for k in mids)
    assert all(b[k]["twin_recall"] is not None for k in mids)
    # floors under the analytic curve, with binomial-noise margin
    assert b["[0.5,0.7)"]["twin_recall"] >= 0.25
    assert b["[0.7,0.9)"]["twin_recall"] >= 0.70
    assert b["[0.9,1.0)"]["twin_recall"] >= 0.95
    assert b["[0.5,0.7)"]["prod_recall"] >= 0.70
    assert b["[0.7,0.9)"]["prod_recall"] >= 0.95
    assert b["[0.9,1.0)"]["prod_recall"] >= 0.95
    # the s-curve is monotone in jaccard
    tw = [b[k]["twin_recall"] for k in
          ["[0.1,0.3)", "[0.3,0.5)", "[0.5,0.7)", "[0.7,0.9)",
           "[0.9,1.0)"]]
    assert tw == sorted(tw)
    # candidate precision against the >= 0.1 contract stays tight
    assert r["twin_precision_ge_0.1"] >= 0.99


# ------------------------------------------- multi-probe semdedup pin


def test_multiprobe_lifts_semantic_pair_recall(spark):
    """On a CLUSTERED corpus (within-cluster cosine ~0.85), hamming<=2
    multi-probe must recover the large majority of exact cosine>=0.5
    pairs, and strictly dominate exact-bucket blocking — the measured
    reason semdedup_lsh probes (TWIN_FIDELITY.md)."""
    from dotnetvectorsearch_spark.operators.dedup import (
        embedding_neardup_pairs, lsh_bucket_neardup_pairs)
    from tools.gen_scale_tier import gen_embeddings_clustered

    emb = gen_embeddings_clustered(spark, 300, dim=64, n_clusters=8)
    emb = emb.select("vec_id", "embedding")
    bucketed = HyperplaneLSH.md5(8, 64).transform(emb)
    exact = embedding_neardup_pairs(emb, "vec_id", "embedding",
                                    threshold=0.5,
                                    allow_unblocked=True).cache()
    n_exact = exact.count()
    assert n_exact > 100  # planted structure sanity

    def recall(h):
        got = lsh_bucket_neardup_pairs(bucketed, "vec_id", "embedding",
                                       bucket_col="bucket", threshold=0.5,
                                       probe_hamming=h, bits=8)
        return exact.join(got, ["id_a", "id_b"], "left_semi").count() \
            / n_exact

    r0, r2 = recall(0), recall(2)
    assert r2 >= 0.75
    assert r2 > r0
    exact.unpersist()


def test_adaptive_design_holds_recall_at_high_bits(spark):
    """Regression floor for the adaptive scale path: at bits=15 (the
    200k-vector configuration, bucket count 128x the driver tiers') the
    `_lsh_tables_for_recall`-sized table count must keep clustered-pair
    recall near the single-table bits=8 level (measured 0.78 vs 0.85 at
    n=2000, SEMDEDUP_DIAL.md) — the property that makes growing bits
    with the corpus safe."""
    from dotnetvectorsearch_spark.operators.dedup import (
        embedding_neardup_pairs, lsh_bucket_neardup_pairs)
    from tools.gen_scale_tier import gen_embeddings_clustered
    import __spark_entry__ as entrymod

    bits = 15
    n_tables = entrymod._lsh_tables_for_recall(bits, probe_hamming=2)
    assert n_tables >= 2
    emb = gen_embeddings_clustered(spark, 300, dim=64, n_clusters=8)
    emb = emb.select("vec_id", "embedding")
    cols = []
    for t in range(n_tables):
        c = f"hb{t}"
        emb = HyperplaneLSH.md5(bits, 64, offset=t * bits).transform(
            emb, out=c)
        cols.append(c)
    exact = embedding_neardup_pairs(
        emb.select("vec_id", "embedding"), "vec_id", "embedding",
        threshold=0.5, allow_unblocked=True).cache()
    n_exact = exact.count()
    got = lsh_bucket_neardup_pairs(
        emb, "vec_id", "embedding", bucket_col=cols[0], threshold=0.5,
        probe_hamming=2, bits=bits, bucket_cols=cols)
    recall = exact.join(got, ["id_a", "id_b"], "left_semi").count() \
        / n_exact
    exact.unpersist()
    assert recall >= 0.65


def test_multitable_lsh_superset_no_dups_and_recall_gain(spark):
    """Multi-table OR-amplification (the bits-grows-with-n scale path):
    L plane tables must (a) return each qualifying pair at most once,
    (b) be a superset of every single table's pairs, (c) at HIGH bits
    (where one table's survival collapses) recover materially more
    exact pairs than one table — the designed property
    `_lsh_tables_for_recall` sizes for."""
    from dotnetvectorsearch_spark.operators.dedup import (
        embedding_neardup_pairs, lsh_bucket_neardup_pairs)
    from tools.gen_scale_tier import gen_embeddings_clustered

    bits, n_tables = 12, 3
    emb = gen_embeddings_clustered(spark, 300, dim=64, n_clusters=8)
    emb = emb.select("vec_id", "embedding")
    cols = []
    for t in range(n_tables):
        c = f"b{t}"
        emb = HyperplaneLSH.md5(bits, 64, offset=t * bits).transform(
            emb, out=c)
        cols.append(c)
    exact = embedding_neardup_pairs(
        emb.select("vec_id", "embedding"), "vec_id", "embedding",
        threshold=0.5, allow_unblocked=True).cache()
    n_exact = exact.count()

    def pairs(use_cols):
        return lsh_bucket_neardup_pairs(
            emb, "vec_id", "embedding", bucket_col=use_cols[0],
            threshold=0.5, probe_hamming=1, bits=bits,
            bucket_cols=use_cols)

    multi = pairs(cols).cache()
    n_multi = multi.count()
    assert multi.select("id_a", "id_b").distinct().count() == n_multi
    hits = {}
    for c in cols:
        single = pairs([c])
        assert single.join(multi, ["id_a", "id_b"],
                           "left_anti").count() == 0
        hits[c] = exact.join(single, ["id_a", "id_b"],
                             "left_semi").count()
    multi_hits = exact.join(multi, ["id_a", "id_b"],
                            "left_semi").count()
    assert multi_hits > max(hits.values())
    assert multi_hits / n_exact > 1.2 * max(hits.values()) / n_exact
    multi.unpersist()
    exact.unpersist()


def test_semdedup_hi_operating_point_kept_agreement_floor(spark):
    """Dial-matched floor for the tau=0.8 operating point adopted in
    round 7 (SEMDEDUP_DIAL.md, clustered tier): probe_hamming=1 holds
    kept-decision agreement 0.996 vs the exact all-pairs operator at
    ~1/4 the candidate volume of h=2. Pin: on a clustered corpus (the
    regime SemDeDup runs in), the h=1 twin's keep/drop decisions agree
    with exact >= 0.95 after identical components+keep-min algebra."""
    from pyspark.sql.window import Window as W

    from dotnetvectorsearch_spark.operators.dedup import (
        connected_components, embedding_neardup_pairs,
        lsh_bucket_neardup_pairs)
    from tools.gen_scale_tier import gen_embeddings_clustered

    tau = 0.8
    emb = gen_embeddings_clustered(spark, 500, dim=64, n_clusters=10)
    emb = emb.select("vec_id", "embedding").cache()

    def kept_flags(pairs):
        comp = connected_components(pairs.select("id_a", "id_b"))
        cl = (emb.select("vec_id")
              .join(comp.withColumnRenamed("node", "vec_id"),
                    "vec_id", "left")
              .select("vec_id", F.coalesce("component", F.col("vec_id"))
                      .alias("cluster_id")))
        w = W.partitionBy("cluster_id")
        return cl.select(
            "vec_id",
            (F.col("vec_id") == F.min("vec_id").over(w)).alias("kept"))

    exact_pairs = embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=tau, allow_unblocked=True)
    bucketed = HyperplaneLSH.md5(8, 64).transform(emb)
    twin_pairs = lsh_bucket_neardup_pairs(
        bucketed, "vec_id", "embedding", bucket_col="bucket",
        threshold=tau, probe_hamming=1, bits=8)
    j = (kept_flags(exact_pairs).withColumnRenamed("kept", "k_exact")
         .join(kept_flags(twin_pairs).withColumnRenamed("kept", "k_twin"),
               "vec_id")).cache()
    n = j.count()
    agree = j.filter(F.col("k_exact") == F.col("k_twin")).count()
    j.unpersist()
    emb.unpersist()
    assert n == 500
    assert agree / n >= 0.95
