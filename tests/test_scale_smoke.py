"""Scale smoke: the flagship search path on a 1M-vector synthetic corpus
generated JVM-side (no fixture IO, no Python in the hot path). Verifies
the plan stays TakeOrderedAndProject + broadcast and that exact top-k
finds the planted self-match — the property that must hold at any N."""

from __future__ import annotations

from pyspark.sql import functions as F

from dotnetvectorsearch_spark.operators.search import top_k_similar

N = 1_000_000
DIM = 16
TARGET = 123_457


def _corpus(spark):
    # hash-based components: no structural near-duplicates (a sin(id*i)
    # generator creates near-parallel vectors every ~710 ids)
    return spark.range(N).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(DIM)),
            lambda i: (F.xxhash64(F.col("id"), i) % 997).cast("float"))
        .alias("embedding"))


def test_search_1m_vectors_exact_topk(spark):
    emb = _corpus(spark)
    q = (emb.filter(F.col("vec_id") == TARGET)
         .select(F.col("embedding").alias("query_embedding")))
    res = top_k_similar(emb, q, top_k=5, id_col="vec_id", round_digits=6)
    plan = res._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    rows = res.collect()
    assert rows[0].vec_id == TARGET
    assert abs(rows[0].similarity - 1.0) < 1e-6
    assert rows[1].similarity < 0.999        # random vectors: no near-dups
    assert len(rows) == 5


def test_connected_components_300k_chain_clusters(spark,
                                                  force_distributed):
    # 50k chains of 6 nodes each (chains, not stars: forces pointer
    # jumping to do real work). At 100x this is the same plan with more
    # partitions — per-round shuffle is linear in |E|.
    from pyspark.sql import functions as F
    from dotnetvectorsearch_spark.operators.graph import connected_components
    edges = (spark.range(0, 300_000, 1, 16)
             .filter((F.col("id") % 6) != 5)
             .select(F.col("id").alias("id_a"),
                     (F.col("id") + 1).alias("id_b")))
    # force_distributed: this test exists to exercise the DISTRIBUTED
    # iterative plan (the 100 TB path), which the bounded union-find
    # fast path would otherwise absorb at this size.
    with force_distributed():
        comp = connected_components(edges)
    agg = comp.agg(
        F.countDistinct("component").alias("n_comp"),
        F.sum(F.when(F.col("component")
                     == (F.col("node") - F.col("node") % 6), 0)
              .otherwise(1)).alias("n_wrong")).collect()[0]
    assert agg.n_comp == 50_000
    assert agg.n_wrong == 0


def test_deterministic_shuffle_1m_rows_dense_addressing(spark):
    # The export shuffle at 1M rows: per-shard pos must stay dense
    # 0..n-1 (row_number over a hash exchange, not a global sort), and
    # shard sizes must be balanced within a few percent.
    from dotnetvectorsearch_spark.operators.sampling import (
        deterministic_shuffle)
    df = spark.range(1_000_000).withColumnRenamed("id", "doc_id")
    out = deterministic_shuffle(df, "doc_id", shards=16)
    stats = (out.groupBy("shard")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.min("pos").alias("lo"), F.max("pos").alias("hi"))
             .collect())
    assert len(stats) == 16
    for r in stats:
        assert r.lo == 0 and r.hi == r.n - 1          # dense per shard
        assert abs(r.n - 62_500) < 62_500 * 0.05      # balanced
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "SinglePartition" not in plan              # never a global sort


def test_pagerank_400k_edges_distributed(spark):
    """PageRank on a 400k-edge graph (100k stars of 5: hub 5k connected
    to 4 leaves, plus chains to make contributions asymmetric). The
    per-iteration work is one edges-ranks join + one transpose agg —
    linear in |E|, no driver state; at 100x this is the same plan with
    more partitions."""
    from dotnetvectorsearch_spark.operators.graph import (
        pagerank_undirected,
    )
    # 100k hubs, each with 4 leaves: edge (hub h, leaf 4h+i)
    hubs = (spark.range(0, 100_000, 1, 16)
            .select(F.col("id").alias("h")))
    pairs = hubs.selectExpr(
        "explode(sequence(0, 3)) AS i", "h").select(
        (F.col("h") + 1_000_000).alias("id_a"),
        (F.col("h") * 4 + F.col("i")).alias("id_b"))
    ranks = pagerank_undirected(pairs, iters=3)
    agg = ranks.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pagerank").alias("mass"),
        F.min("pagerank").alias("lo"),
        F.max("pagerank").alias("hi")).collect()[0]
    assert agg.n == 500_000
    assert abs(agg.mass - 1.0) < 1e-3     # no dangling mass leaks
    assert agg.hi > agg.lo                # hubs beat leaves


def test_funnel_1m_events_single_exchange_and_exact_counts(spark):
    """1M synthetic events, 50k users: the funnel's window chain must
    stay on ONE user-keyed exchange, and the constructed conversion
    pattern (every 2nd user clicks after viewing, every 4th then
    purchases) must come back exactly."""
    from dotnetvectorsearch_spark.operators.temporal import funnel_steps
    # 20 "rounds" of 50k users; round 0 = everyone views, round 1 =
    # even users click, round 3 = users % 4 == 0 purchase. ts = id, so
    # step order holds by construction.
    u = F.col("id") % 50_000
    rnd = (F.col("id") / 50_000).cast("long")
    ev = (spark.range(0, 1_000_000, 1, 32)
          .select(u.alias("user_id"),
                  (F.col("id") * 1_000_000_000).alias("ts"),
                  F.when(rnd == 0, "view")
                  .when((rnd == 1) & (u % 2 == 0), "click")
                  .when((rnd == 3) & (u % 4 == 0), "purchase")
                  .otherwise("noise").alias("event_type")))
    out = funnel_steps(ev, ["view", "click", "purchase"])
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert plan.count("Arguments: hashpartitioning") == 1
    rows = {r.event_type: r.users for r in out.collect()}
    assert rows["view"] == 50_000
    assert rows["click"] == 25_000      # even users, after their view
    assert rows["purchase"] == 12_500   # %4 users, after their click


def test_heavy_hitters_1m_rows_constant_exchange(spark):
    """1M-row Zipf-ish stream: the MG exchange must carry k rows per
    partition (tiny), the certified bound must hold for the planted
    heavy key, and the heavy key must rank first."""
    from dotnetvectorsearch_spark.operators.sketches import (
        heavy_hitters_mg)
    df = (spark.range(0, 1_000_000, 1, 32)
          .select(F.when(F.col("id") % 10 == 0, "HEAVY")
                  .otherwise(F.concat(F.lit("t"),
                                      (F.col("id") % 97_001)
                                      .cast("string")))
                  .alias("w")))
    out = heavy_hitters_mg(df, "w", k=64, top_n=5).collect()
    assert out[0].key == "HEAVY"
    true_heavy = 100_000
    assert out[0].est_count <= true_heavy \
        <= out[0].est_count + out[0].max_undercount
