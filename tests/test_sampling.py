from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dotnetvectorsearch_spark.operators.sampling import (
    proportional_downsample,
    stratified_sample,
)
from dotnetvectorsearch_spark.sources.io import load_table


def test_stratified_sample_deterministic_and_filtered(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    langs = [r.lang for r in docs.select("lang").distinct().collect()]
    keep = {langs[0]: 0.5}
    a = stratified_sample(docs, "lang", keep).select("doc_id").collect()
    b = stratified_sample(docs, "lang", keep).select("doc_id").collect()
    assert sorted(a) == sorted(b)                      # seeded -> repeatable
    got_langs = {r.lang for r in
                 stratified_sample(docs, "lang", keep).select("lang")
                 .distinct().collect()}
    assert got_langs <= {langs[0]}                     # other strata dropped


def test_stratified_hash_sample_partition_invariant_and_scoped(spark,
                                                               sf_dir):
    from dotnetvectorsearch_spark.operators.sampling import (
        stratified_hash_sample)
    docs = load_table(spark, sf_dir, "documents")
    langs = sorted(r.lang for r in docs.select("lang").distinct().collect())
    fracs = {langs[0]: 0.5, langs[1]: 0.1}
    a = {r.doc_id for r in
         stratified_hash_sample(docs, "lang", "doc_id", fracs).collect()}
    # identical kept set under a different partitioning (sampleBy's
    # XORShift draw would NOT survive this)
    b = {r.doc_id for r in
         stratified_hash_sample(docs.repartition(7), "lang", "doc_id",
                                fracs).collect()}
    assert a == b and a
    # unmapped strata dropped; mapped fractions roughly honored
    out = stratified_hash_sample(docs, "lang", "doc_id", fracs)
    got = {r.lang: r.n for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(got) <= {langs[0], langs[1]}
    n0 = docs.filter(F.col("lang") == langs[0]).count()
    assert abs(got[langs[0]] / n0 - 0.5) < 0.2
    # endpoints: 1.0 keeps the whole stratum, 0.0 keeps none
    full = stratified_hash_sample(docs, "lang", "doc_id", {langs[0]: 1.0})
    assert full.count() == n0
    assert stratified_hash_sample(docs, "lang", "doc_id",
                                  {langs[0]: 0.0}).count() == 0
    with pytest.raises(ValueError):
        stratified_hash_sample(docs, "lang", "doc_id", {langs[0]: 1.5})
    assert stratified_hash_sample(docs, "lang", "doc_id", {}).count() == 0


def test_proportional_downsample_caps_strata(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    target = 10
    out = proportional_downsample(docs, "lang", target)
    counts = {r.lang: r.n for r in
              out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # Bernoulli sampling is approximate; allow 3x headroom over the target
    assert counts and all(n <= 3 * target for n in counts.values())


def test_hash_split_stable_and_partition_invariant(spark, sf_dir):
    from dotnetvectorsearch_spark.operators.sampling import hash_split
    docs = load_table(spark, sf_dir, "documents")
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    a = {r.doc_id: r.split
         for r in hash_split(docs, "doc_id", w).select(
             "doc_id", "split").collect()}
    # identical assignment under a different partitioning (randomSplit
    # would NOT survive this)
    b = {r.doc_id: r.split
         for r in hash_split(docs.repartition(7), "doc_id", w).select(
             "doc_id", "split").collect()}
    assert a == b
    from collections import Counter
    frac = Counter(a.values())
    n = len(a)
    assert 0.8 < frac["train"] / n < 0.97
    assert frac["val"] > 0 and frac["test"] > 0


def test_deterministic_shuffle_stable_balanced_and_seeded(spark, sf_dir):
    from dotnetvectorsearch_spark.operators.sampling import (
        deterministic_shuffle)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    a = {r.doc_id: (r.shard, r.pos)
         for r in deterministic_shuffle(docs, "doc_id", shards=4).collect()}
    # partition-invariant (orderBy(rand()) would NOT survive this)
    b = {r.doc_id: (r.shard, r.pos)
         for r in deterministic_shuffle(docs.repartition(7), "doc_id",
                                        shards=4).collect()}
    assert a == b
    # every (shard, pos) address is unique and pos is dense per shard
    assert len(set(a.values())) == len(a)
    from collections import Counter
    per_shard = Counter(s for s, _ in a.values())
    assert set(per_shard) == {0, 1, 2, 3}
    for s, n in per_shard.items():
        assert {p for sh, p in a.values() if sh == s} == set(range(n))
    # a different seed yields a different permutation
    c = {r.doc_id: (r.shard, r.pos)
         for r in deterministic_shuffle(docs, "doc_id", shards=4,
                                        seed="epoch1").collect()}
    assert c != a


def test_temperature_targets_endpoints_and_tail_boost(spark):
    from dotnetvectorsearch_spark.operators.sampling import (
        mixture_rebalance,
        temperature_targets,
    )
    # 900 'en' / 90 'de' / 10 'yo': alpha=1 reproduces natural shares,
    # alpha=0 is uniform, alpha=0.5 boosts the tail share monotonically.
    rows = ([(i, "en") for i in range(900)]
            + [(i + 900, "de") for i in range(90)]
            + [(i + 990, "yo") for i in range(10)])
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    nat = temperature_targets(df, "lang", alpha=1.0)
    assert nat["en"] == pytest.approx(0.9)
    assert nat["yo"] == pytest.approx(0.01)
    uni = temperature_targets(df, "lang", alpha=0.0)
    assert all(v == pytest.approx(1 / 3) for v in uni.values())
    mid = temperature_targets(df, "lang", alpha=0.5)
    assert nat["yo"] < mid["yo"] < uni["yo"]
    assert uni["en"] < mid["en"] < nat["en"]
    assert sum(mid.values()) == pytest.approx(1.0)
    # composes with the rebalancer: output proportions approach the
    # temperature targets (binding stratum kept whole)
    mixed = mixture_rebalance(df, "lang", "doc_id", mid)
    got = {r.lang: r.n for r in
           mixed.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
           .collect()}
    assert got["yo"] == 10                      # scarcest: kept whole
    ratio = got["en"] / got["yo"]
    assert ratio == pytest.approx(mid["en"] / mid["yo"], rel=0.25)


def test_hash_split_weight_normalization(spark):
    from dotnetvectorsearch_spark.operators.sampling import hash_split
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    # weights 9/1 == 0.9/0.1 after normalization
    a = {r.k: r.split for r in hash_split(df, "k", {"a": 9, "b": 1}).collect()}
    b = {r.k: r.split
         for r in hash_split(df, "k", {"a": 0.9, "b": 0.1}).collect()}
    assert a == b


def test_hash_sample_deterministic_and_partition_invariant(spark, sf_dir):
    from dotnetvectorsearch_spark.operators.sampling import hash_sample
    from dotnetvectorsearch_spark.sources.io import load_table
    docs = load_table(spark, sf_dir, "documents")
    a = {r.doc_id for r in hash_sample(docs, "doc_id", 0.25).collect()}
    b = {r.doc_id for r in hash_sample(docs.repartition(7), "doc_id",
                                       0.25).collect()}
    assert a == b and 0 < len(a) < docs.count()


def test_hash_sample_monotone_in_fraction(spark, sf_dir):
    from dotnetvectorsearch_spark.operators.sampling import hash_sample
    from dotnetvectorsearch_spark.sources.io import load_table
    docs = load_table(spark, sf_dir, "documents")
    small = {r.doc_id for r in hash_sample(docs, "doc_id", 0.1).collect()}
    big = {r.doc_id for r in hash_sample(docs, "doc_id", 0.5).collect()}
    assert small <= big
    assert hash_sample(docs, "doc_id", 1.0).count() == docs.count()
    assert hash_sample(docs, "doc_id", 0.0).count() == 0


def test_hash_sample_rejects_bad_fraction(spark, sf_dir):
    import pytest as _pytest

    from dotnetvectorsearch_spark.operators.sampling import hash_sample
    from dotnetvectorsearch_spark.sources.io import load_table
    docs = load_table(spark, sf_dir, "documents")
    with _pytest.raises(ValueError):
        hash_sample(docs, "doc_id", 1.5)


def test_weighted_hash_sample_extremes(spark):
    from dotnetvectorsearch_spark.operators.sampling import (
        weighted_hash_sample)
    df = spark.range(200).withColumn(
        "w", F.when(F.col("id") < 100, F.lit(0.0)).otherwise(F.lit(5.0)))
    kept = {r.id for r in weighted_hash_sample(df, "id", "w").collect()}
    assert kept == set(range(100, 200))  # max weight always, zero never


def test_weighted_hash_sample_partition_invariant(spark, sf_dir):
    from dotnetvectorsearch_spark.operators.sampling import (
        weighted_hash_sample)
    docs = load_table(spark, sf_dir, "documents")
    a = {r.doc_id for r in
         weighted_hash_sample(docs, "doc_id", "n_chars").collect()}
    b = {r.doc_id for r in
         weighted_hash_sample(docs.repartition(7), "doc_id",
                              "n_chars").collect()}
    assert a == b and 0 < len(a) < docs.count()


def test_mixture_rebalance_hits_targets(spark, sf_dir):
    from dotnetvectorsearch_spark.operators.sampling import mixture_rebalance
    docs = load_table(spark, sf_dir, "documents")
    targets = {"en": 0.5, "de": 0.125, "es": 0.125, "fr": 0.125,
               "zh": 0.125}
    out = mixture_rebalance(docs, "lang", "doc_id", targets)
    before = {r.lang: r.n for r in
              docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    after = {r.lang: r.n for r in
             out.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    total = sum(after.values())
    # binding stratum (scarcest vs its target) is kept whole
    binding = min(before, key=lambda k: before[k] / targets[k])
    assert after[binding] == before[binding]
    # achieved proportions approximate the target mixture
    for lang, share in targets.items():
        assert abs(after.get(lang, 0) / total - share) < 0.08
    # never replicates, never invents rows
    for lang in after:
        assert after[lang] <= before[lang]


def test_mixture_rebalance_drops_unlisted_strata(spark, sf_dir):
    from dotnetvectorsearch_spark.operators.sampling import mixture_rebalance
    docs = load_table(spark, sf_dir, "documents")
    out = mixture_rebalance(docs, "lang", "doc_id", {"en": 1.0})
    langs = {r.lang for r in out.select("lang").distinct().collect()}
    assert langs == {"en"}
    assert out.count() == docs.filter(F.col("lang") == "en").count()


def test_top_k_per_group_matches_pandas_reference(spark, sf_dir):
    from dotnetvectorsearch_spark.operators.sampling import top_k_per_group
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars")
    got = top_k_per_group(docs, "source", 3,
                          [("n_chars", True), ("doc_id", False)])
    want = (docs.toPandas()
            .sort_values(["n_chars", "doc_id"], ascending=[False, True])
            .groupby("source").head(3))
    assert sorted((r.source, r.doc_id, r.n_chars) for r in got.collect()) \
        == sorted(want.itertuples(index=False, name=None))


def test_top_k_per_group_sizes_and_membership(spark, sf_dir):
    from dotnetvectorsearch_spark.operators.sampling import top_k_per_group
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars")
    out = top_k_per_group(docs, "source", 2,
                          [("n_chars", True), ("doc_id", False)])
    per_group = {r.source: r.n for r in
                 out.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
                 .collect()}
    assert all(n <= 2 for n in per_group.values())
    # winner check: the global max of one group is present
    some = docs.orderBy(F.desc("n_chars"), F.asc("doc_id")).first()
    kept = {(r.source, r.doc_id) for r in out.collect()}
    assert (some.source, some.doc_id) in kept


def test_corpus_profile_matches_manual(spark, sf_dir):
    from dotnetvectorsearch_spark.operators.profile import corpus_profile
    docs = load_table(spark, sf_dir, "documents")
    row = corpus_profile(docs).collect()[0]
    assert row.n_docs == docs.count()
    assert row.n_langs == docs.select("lang").distinct().count()
    assert row.n_sources == docs.select("source").distinct().count()
    mn, mx = docs.agg(F.min("n_chars"), F.max("n_chars")).collect()[0]
    assert (row.min_chars, row.max_chars) == (mn, mx)
    assert 0.0 <= row.short_doc_frac <= 1.0
    assert row.total_tokens > row.n_docs  # multi-token docs exist


def test_weighted_hash_sample_all_zero_weights_keeps_nothing(spark):
    from dotnetvectorsearch_spark.operators.sampling import (
        weighted_hash_sample)
    df = spark.range(50).withColumn("w", F.lit(0.0))
    # max weight 0 -> keep probability 0/0 is null -> every row dropped,
    # deterministically (no divide-by-zero error, no partial keeps)
    assert weighted_hash_sample(df, "id", "w").count() == 0


def _naive_token_budget(rows, budget, salt="budget-v1"):
    """The single-window greedy form token_budget_sample is proven
    equivalent to: order each group by (md5-prefix hash, key), admit
    while cumulative-before < budget (straddler included)."""
    from pyspark.sql import Window
    h = F.conv(F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(salt))),
        1, 8), 16, 10).cast("long")
    w = (Window.partitionBy("lang").orderBy("__h", "doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    return (rows.withColumn("__h", h)
            .withColumn("__cb", F.coalesce(F.sum("tokens").over(w),
                                           F.lit(0)))
            .filter(F.col("__cb") < budget)
            .select("doc_id", "lang", "tokens"))


def test_token_budget_matches_naive_window(spark, sf_dir):
    """Bucketed per-row verdicts == the naive whole-group window prefix,
    for several bucket counts, with the straddler bucket verifiably
    exercised in every group (the docstring's claimed equivalence)."""
    from dotnetvectorsearch_spark.functions.text import ws_token_count
    from dotnetvectorsearch_spark.operators.sampling import (
        token_budget_sample)
    budget = 2000
    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select(
        "doc_id", "lang",
        ws_token_count("text").cast("long").alias("tokens"))
    expected = {(r.doc_id, r.lang, r.tokens)
                for r in _naive_token_budget(rows, budget).collect()}
    assert expected  # budget admits something
    totals = {r.lang: r.t for r in
              rows.groupBy("lang").agg(F.sum("tokens").alias("t"))
              .collect()}
    assert all(t > budget for t in totals.values())  # every group is cut
    for buckets in (2, 16, 4096):
        got = {(r.doc_id, r.lang, r.tokens)
               for r in token_budget_sample(
                   rows, "doc_id", "lang", "tokens", budget,
                   buckets=buckets).collect()}
        assert got == expected, f"buckets={buckets}"
    # straddler included: each cut group's admitted total reaches the
    # budget (fill target) but stays under budget + its own max row
    admitted = {}
    for d, lang, t in expected:
        admitted[lang] = admitted.get(lang, 0) + t
    max_tok = {r.lang: r.m for r in
               rows.groupBy("lang").agg(F.max("tokens").alias("m"))
               .collect()}
    for lang, tot in admitted.items():
        assert budget <= tot < budget + max_tok[lang], lang
    # the straddler BUCKET path (stage 3) is exercised: at buckets=16
    # some group's budget boundary falls strictly inside a bucket
    span = 16 ** 8 // 16
    h = F.conv(F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"),
                       F.lit("budget-v1"))), 1, 8), 16, 10).cast("long")
    per_bucket = (rows.withColumn("__b", (h / F.lit(span)).cast("long"))
                  .groupBy("lang", "__b")
                  .agg(F.sum("tokens").alias("bt")).collect())
    from collections import defaultdict
    by_lang = defaultdict(list)
    for r in per_bucket:
        by_lang[r.lang].append((r["__b"], r.bt))
    straddlers = 0
    for lang, lst in by_lang.items():
        cum = 0
        for _, bt in sorted(lst):
            if cum < budget <= cum + bt:
                straddlers += 1
                break
            cum += bt
    assert straddlers == len(by_lang)  # every group has an edge bucket


def test_token_budget_append_only_growth_and_validation(spark, sf_dir):
    """Growing the corpus only appends candidates after the existing
    hash-order prefix: already-admitted rows stay admitted when new
    docs arrive (until the budget moves), and bad budgets raise."""
    import pytest as _pytest

    from dotnetvectorsearch_spark.functions.text import ws_token_count
    from dotnetvectorsearch_spark.operators.sampling import (
        token_budget_sample)
    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select(
        "doc_id", "lang",
        ws_token_count("text").cast("long").alias("tokens"))
    half = rows.filter(F.col("doc_id") % 2 == 0)
    budget = 1500
    kept_half = {(r.doc_id, r.lang) for r in token_budget_sample(
        half, "doc_id", "lang", "tokens", budget).collect()}
    kept_full = {(r.doc_id, r.lang) for r in token_budget_sample(
        rows, "doc_id", "lang", "tokens", budget).collect()}
    # NOT a superset claim on kept_full (new docs can hash EARLIER and
    # displace) — the append-only property is on the candidate ORDER:
    # a displaced doc must be displaced by a new doc hashing before it,
    # never by reordering of existing docs. Verify via the naive order:
    # within the old corpus, the admitted set is still a prefix.
    naive_full = _naive_token_budget(rows, budget)
    order_full = [(r.doc_id, r.lang) for r in
                  rows.withColumn("__h", F.conv(F.substring(
                      F.md5(F.concat(F.col("doc_id").cast("string"),
                                     F.lit("budget-v1"))), 1, 8),
                      16, 10).cast("long"))
                  .orderBy("lang", "__h", "doc_id")
                  .select("doc_id", "lang").collect()]
    olds = [p for p in order_full if p in
            {(r.doc_id, r.lang) for r in half.select("doc_id", "lang")
             .collect()}]
    kept_old_in_full = [p for p in olds if p in kept_full]
    # admitted old docs form a PREFIX of the old docs' order per lang
    from collections import defaultdict
    seen_drop = defaultdict(bool)
    for p in olds:
        lang = p[1]
        if p in kept_old_in_full:
            assert not seen_drop[lang], p
        else:
            seen_drop[lang] = True
    assert kept_half and kept_full
    with _pytest.raises(ValueError):
        token_budget_sample(rows, "doc_id", "lang", "tokens", 0)
    with _pytest.raises(ValueError):
        token_budget_sample(rows, "doc_id", "lang", "tokens", 10,
                            buckets=1)


def test_leakage_safe_splits_cluster_members_share_split(spark, sf_dir):
    """The leakage-safe split's defining invariant: every duplicate
    cluster lands entirely in ONE split, while the plain doc-id split
    (dataset_splits) demonstrably scatters at least one multi-member
    cluster across splits on the same corpus — the leakage the
    cluster-aware variant exists to prevent."""
    import __spark_entry__ as entry

    out = entry._q_leakage_safe_splits(spark, sf_dir)
    per_cluster = (out.groupBy("cluster_id")
                   .agg(F.countDistinct("split").alias("n_splits"),
                        F.count(F.lit(1)).alias("n"))
                   .collect())
    assert all(r.n_splits == 1 for r in per_cluster)
    multi = {r.cluster_id for r in per_cluster if r.n > 1}
    assert multi, "fixture must contain multi-member dup clusters"
    # negative control: hash-by-doc_id scatters some multi-member
    # cluster (if it never did, the cluster-aware variant would be
    # pointless on this corpus)
    from dotnetvectorsearch_spark.operators.sampling import hash_split
    naive = hash_split(out.select("doc_id", "cluster_id"), "doc_id",
                       entry.SPLIT_WEIGHTS)
    scattered = (naive.filter(F.col("cluster_id").isin(list(multi)))
                 .groupBy("cluster_id")
                 .agg(F.countDistinct("split").alias("n_splits"))
                 .filter(F.col("n_splits") > 1).count())
    assert scattered > 0
