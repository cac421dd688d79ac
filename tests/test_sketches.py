"""Sketch-aggregation accuracy: the approximate answers must sit within
their documented error bounds of the exact ones (the property the
rows-only driver check can't see)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dotnetvectorsearch_spark.sources.io import load_table


def test_approx_distinct_within_rsd(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    exact = {r.event_type: r.n for r in
             ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    approx = {r.event_type: r.n for r in
              ev.groupBy("event_type")
              .agg(F.approx_count_distinct("user_id", rsd=0.02)
                   .alias("n")).collect()}
    for k, ex in exact.items():
        assert abs(approx[k] - ex) / ex <= 0.06  # 3x rsd

def test_approx_percentile_brackets_exact(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    exact = ev.agg(F.expr("percentile(value, 0.5)").alias("p50")).collect()[0]
    approx = ev.agg(F.percentile_approx("value", 0.5, 10000)
                    .alias("p50")).collect()[0]
    spread = ev.agg((F.max("value") - F.min("value")).alias("s")) \
        .collect()[0].s
    assert abs(approx.p50 - exact.p50) <= 0.01 * spread


def test_sketch_merges_partial(spark, sf_dir):
    """The HLL aggregate must plan a partial_ (map-side) phase — the
    scale property that makes it shuffle sketches, not keys."""
    ev = load_table(spark, sf_dir, "events")
    plan = (ev.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "partial_approx_count_distinct" in plan


def test_theta_overlap_within_error_bounds(spark, sf_dir):
    """Theta-sketch estimates of n-gram set sizes and overlap sit within
    ~3x the configured relative standard error of the exact answers."""
    from dotnetvectorsearch_spark.functions.text import word_shingles
    from dotnetvectorsearch_spark.operators.sketches import (
        theta_ngram_overlap)
    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter(
        F.regexp_extract("source", r"src(\d+)", 1).cast("int") < 10)
    b = docs.filter(
        F.regexp_extract("source", r"src(\d+)", 1).cast("int") >= 10)
    est = theta_ngram_overlap(a, b, "text", 3).collect()[0]

    def shingle_set(df):
        return {r.s for r in df.select(
            F.explode(word_shingles("text", 3)).alias("s"))
            .distinct().collect()}
    sa, sb = shingle_set(a), shingle_set(b)
    inter, union = len(sa & sb), len(sa | sb)
    tol = 3 * (1.0 / (2 ** 14) ** 0.5) + 0.02  # 3x rsd + small-set slack
    assert abs(est.est_ngrams_a - len(sa)) <= tol * len(sa)
    assert abs(est.est_ngrams_b - len(sb)) <= tol * len(sb)
    assert abs(est.est_overlap - inter) <= tol * max(inter, 1) + 2
    assert abs(est.est_jaccard - inter / union) <= 0.05


def test_hll_daily_distinct_matches_exact(spark, sf_dir):
    from dotnetvectorsearch_spark.operators.sketches import (
        hll_daily_distinct)
    ev = load_table(spark, sf_dir, "events")
    out = hll_daily_distinct(ev).collect()
    per_day = {r.day: r.est_distinct for r in out if r.day is not None}
    total_est = [r.est_distinct for r in out if r.day is None][0]
    from dotnetvectorsearch_spark.functions.time import event_bucket_seconds
    day = (event_bucket_seconds(ev, 86_400) / F.lit(86_400)).cast("long")
    exact = {r.day: r.n for r in
             ev.groupBy(day.alias("day"))
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert set(per_day) == set(exact)
    for d, n in exact.items():
        assert abs(per_day[d] - n) <= max(3, 0.05 * n)
    total_exact = ev.select("user_id").distinct().count()
    assert abs(total_est - total_exact) <= max(3, 0.05 * total_exact)
    # union-of-sketches total never exceeds the sum of dailies
    assert total_est <= sum(per_day.values())


def test_kll_quantiles_within_rank_error(spark, sf_dir):
    from dotnetvectorsearch_spark.operators.sketches import (
        kll_value_quantiles)
    ev = load_table(spark, sf_dir, "events")
    est = {r.event_type: r for r in
           kll_value_quantiles(ev, "value", "event_type").collect()}
    exact = {r.event_type: r for r in
             ev.groupBy("event_type").agg(
                 F.expr("percentile_cont(0.5) WITHIN GROUP "
                        "(ORDER BY value)").alias("p50"),
                 F.expr("percentile_cont(0.95) WITHIN GROUP "
                        "(ORDER BY value)").alias("p95")).collect()}
    for et, ex in exact.items():
        # KLL guarantees RANK error (~0.5% at k=800); translate to a
        # value tolerance via the observed spread of the distribution
        spread = ev.filter(F.col("event_type") == et).agg(
            F.max("value") - F.min("value")).collect()[0][0]
        assert abs(est[et].p50 - ex.p50) <= 0.05 * spread
        assert abs(est[et].p95 - ex.p95) <= 0.05 * spread


def test_heavy_hitters_mg_bounds_and_guarantee(spark):
    """MG certification on a skewed stream: every reported estimate is
    an underestimate within the certified slack, and every key whose
    true count exceeds the global slack is present."""
    import random

    from pyspark.sql import functions as F

    from dotnetvectorsearch_spark.operators.sketches import (
        heavy_hitters_mg)
    rng = random.Random(7)
    rows = (["alpha"] * 600 + ["beta"] * 300 + ["gamma"] * 150
            + [f"tail{i}" for i in range(500)]
            + [f"mid{i % 25}" for i in range(250)])
    rng.shuffle(rows)
    df = spark.createDataFrame([(v,) for v in rows], "w string") \
        .repartition(8)
    k = 32
    out = heavy_hitters_mg(df, "w", k=k, top_n=10).collect()
    true = {}
    for v in rows:
        true[v] = true.get(v, 0) + 1
    slack = out[0].max_undercount
    assert all(r.max_undercount == slack for r in out)
    reported = {r.key: r.est_count for r in out}
    for key, est in reported.items():
        assert est <= true[key] <= est + slack, key
    # guarantee: keys with true count > slack must be reported (they
    # cannot be fully decremented away across all partitions)
    full = heavy_hitters_mg(df, "w", k=k, top_n=10_000).collect()
    present = {r.key for r in full}
    for key, cnt in true.items():
        if cnt > slack:
            assert key in present, (key, cnt, slack)
    # the big three dominate the top of the ranking
    assert [r.key for r in out[:3]] == ["alpha", "beta", "gamma"]


def test_heavy_hitters_mg_exact_when_keys_fit_counters(spark):
    from dotnetvectorsearch_spark.operators.sketches import (
        heavy_hitters_mg)
    df = spark.createDataFrame(
        [(v,) for v in ["x"] * 5 + ["y"] * 3 + ["z"] * 2], "w string")
    out = {r.key: (r.est_count, r.max_undercount)
           for r in heavy_hitters_mg(df, "w", k=16, top_n=10).collect()}
    assert out == {"x": (5, 0), "y": (3, 0), "z": (2, 0)}


def test_mg_merge_compress_preserves_guarantee(spark):
    """Merging two MG summaries and compressing to k keys must keep the
    [est, est + slack] undercount guarantee against the exact counts of
    the combined stream, and track at most k keys."""
    from dotnetvectorsearch_spark.operators.sketches import (
        mg_merge_compress, mg_partials)
    k = 4
    a = spark.createDataFrame(
        [("x",)] * 50 + [("y",)] * 30 + [(w,) for w in "abcdefgh"],
        "v string").coalesce(1)
    b = spark.createDataFrame(
        [("x",)] * 20 + [("z",)] * 40 + [(w,) for w in "ijklmnop"],
        "v string").coalesce(1)
    counters, slack = mg_merge_compress(
        mg_partials(a, "v", k).collect() + mg_partials(b, "v", k).collect(),
        k)
    assert len(counters) <= k
    exact = {"x": 70, "y": 30, "z": 40}
    for key, true_count in exact.items():
        # any key whose true count exceeds the slack must be present,
        # with est <= true <= est + slack
        if true_count > slack:
            est = counters[key]
            assert est <= true_count <= est + slack


def test_mg_merge_compress_exact_regime_stays_exact(spark):
    from dotnetvectorsearch_spark.operators.sketches import (
        mg_merge_compress, mg_partials)
    a = spark.createDataFrame([("x",)] * 5 + [("y",)] * 3, "v string")
    b = spark.createDataFrame([("x",)] * 2 + [("z",)] * 4, "v string")
    got = mg_merge_compress(
        mg_partials(a, "v", 64).collect() + mg_partials(b, "v", 64).collect(),
        64)
    assert got == ({"x": 7, "y": 3, "z": 4}, 0)
