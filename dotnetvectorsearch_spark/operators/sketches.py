"""DataSketches-based mergeable summaries (beyond-reference).

Apache DataSketches aggregates (built into Spark SQL 4.x) give the
*mergeable* forms of the pipeline's set statistics: per-partition /
per-day / per-shard sketches combine associatively into exact-error-bound
estimates WITHOUT re-scanning or joining raw data. At 100 TB this is the
difference between "estimate eval-set contamination with a token-level
join" (shuffle ∝ corpus) and "intersect two kilobyte-sized sketches"
(shuffle ∝ sketch size — constant).

Estimates are approximate (relative error ~1/sqrt(2^lg_k)), so these are
rows-only driver checks; tests pin the estimates inside their documented
error bounds against exact answers (tests/test_sketches.py).

The reference has no aggregation surface at all (SURVEY.md §2.5); these
are north-star training-pipeline extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def theta_ngram_overlap(corpus_a: DataFrame, corpus_b: DataFrame,
                        text_col: str = "text", n: int = 3,
                        lg_k: int = 14) -> DataFrame:
    """Join-free corpus-overlap estimate: theta sketches of each side's
    word n-gram set, intersected sketch-side. Returns one row
    `(est_ngrams_a, est_ngrams_b, est_overlap, est_jaccard)`.

    Scale shape: each side is one map-side-combined sketch aggregate —
    the exchange carries per-task sketches (~2^lg_k hashes max, KBs),
    never the n-grams themselves. The final intersection/union runs on
    two 1-row frames. Contrast `dedup.cross_corpus_contamination`, which
    joins n-gram streams for exact pair attribution: this estimator
    answers "how contaminated?" at a constant cost, the join answers
    "which documents?" at shuffle cost — both belong in the toolbox.
    """
    from dotnetvectorsearch_spark.functions.text import word_shingles

    def sketch(df: DataFrame, alias: str):
        return (df.select(F.explode(word_shingles(text_col, n)).alias("s"))
                .agg(F.theta_sketch_agg("s", lg_k).alias(alias)))

    both = sketch(corpus_a, "sk_a").crossJoin(sketch(corpus_b, "sk_b"))
    inter = F.theta_sketch_estimate(
        F.theta_intersection("sk_a", "sk_b"))
    union = F.theta_sketch_estimate(F.theta_union("sk_a", "sk_b"))
    return both.select(
        F.round(F.theta_sketch_estimate("sk_a"), 1).alias("est_ngrams_a"),
        F.round(F.theta_sketch_estimate("sk_b"), 1).alias("est_ngrams_b"),
        F.round(inter, 1).alias("est_overlap"),
        F.round(inter / union, 6).alias("est_jaccard"))


def kll_value_quantiles(df: DataFrame, value_col: str = "value",
                        group_col: str | None = "event_type",
                        probs: tuple[float, ...] = (0.5, 0.95, 0.99),
                        k: int = 800) -> DataFrame:
    """Per-group quantile estimates from KLL sketches — the mergeable
    (hence streaming- and partition-incremental) alternative to
    `percentile_cont`, whose exact form needs a per-group sort. Returns
    one row per group with a `pNN` column per requested probability.

    An exact percentile over 100 TB sorts every group; the KLL sketch is
    one map-side-combined aggregate with a fixed-size (k-bounded) state
    that merges associatively — the same incremental contract as the HLL
    profile. Normalized rank error for k=800 is ~0.5%.
    """
    keys = [group_col] if group_col else []
    sk = (df.groupBy(*keys)
          .agg(F.kll_sketch_agg_double(F.col(value_col).cast("double"), k)
               .alias("sk")))
    cols = [F.round(F.kll_sketch_get_quantile_double("sk", F.lit(p)), 6)
            .alias(f"p{int(p * 100)}") for p in probs]
    return sk.select(*keys, *cols)


def hll_daily_distinct(events: DataFrame, ts_col: str = "ts",
                       key_col: str = "user_id",
                       lg_k: int = 14) -> DataFrame:
    """Per-day distinct-key estimates plus the exact-merge total — the
    incremental-profile pattern: each day aggregates its own HLL sketch
    once; the corpus-lifetime distinct count is a union of stored
    sketches, never a re-scan of history. Returns one row per day
    `(day, est_distinct)` plus a `day=NULL` row holding the all-time
    union estimate (grouping-sets style).

    `ts_col` is the test tables' parquet TIMESTAMP(NANOS) column, which
    the runtime surfaces either as long nanos or timestamp_ntz — the
    bucketing branches on the actual dtype (functions.time); day
    bucketing is integer floor division, timezone-proof.
    """
    from dotnetvectorsearch_spark.functions.time import event_bucket_seconds
    day = (event_bucket_seconds(events, 86_400, ts_col)
           / F.lit(86_400)).cast("long")
    daily = (events
             .groupBy(day.alias("day"))
             .agg(F.hll_sketch_agg(key_col, lg_k).alias("sk")))
    per_day = daily.select(
        "day", F.hll_sketch_estimate("sk").cast("long")
        .alias("est_distinct"))
    total = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long")
        .alias("est_distinct")).select(
        F.lit(None).cast("long").alias("day"), "est_distinct")
    return per_day.unionByName(total)


def mg_partials(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """Per-partition Misra-Gries summaries as a mergeable frame:
    (key string — NULL carries the partition's decrement slack, est
    long, slack long). One Arrow pass per partition; at most k+1 rows
    per partition ever leave it. The building block shared by the batch
    `heavy_hitters_mg` and the streaming `stream_heavy_hitters`
    maintenance (summaries merge by summing per-key partials and
    slack)."""
    import pandas as pd

    def mg_partition(batches):
        counters: dict = {}
        decrements = 0
        for pdf in batches:
            for v in pdf[col]:
                if v is None:
                    continue
                v = str(v)
                if v in counters:
                    counters[v] += 1
                elif len(counters) < k:
                    counters[v] = 1
                else:
                    # decrement-all: the classic MG step, amortized O(1)
                    # via dict rebuild of survivors
                    counters = {key: c - 1 for key, c in counters.items()
                                if c > 1}
                    decrements += 1
        # any key's undercount equals the decrement rounds that touched
        # it — bounded by the rounds executed (tight; the worst-case
        # n/(k+1) is only the ceiling of this counter). Exact regime
        # (distinct keys <= k) certifies slack 0.
        slack = decrements
        # the partition's slack rides a NULL-keyed row — null inputs are
        # skipped above, so NO genuine value can collide with it (an
        # in-band string sentinel could be shadowed by real data)
        yield pd.DataFrame({
            "key": list(counters) + [None],
            "est": list(counters.values()) + [0],
            "slack": [0] * len(counters) + [slack]})

    return (df.select(F.col(col).alias(col))
            .mapInPandas(mg_partition, "key string, est long, slack long"))


def mg_top(parts: DataFrame, top_n: int = 20) -> DataFrame:
    """Reduce a mergeable MG-summary frame (``mg_partials`` output, or
    a union of summaries) to the ``top_n`` report: (key, est_count,
    max_undercount) ordered est desc, key asc."""
    from dotnetvectorsearch_spark.caching import transient_persist
    parts = transient_persist(parts)
    total_slack = F.broadcast(
        parts.agg(F.coalesce(F.sum("slack"), F.lit(0))
                  .alias("max_undercount")))
    return (parts.filter(F.col("key").isNotNull())
            .groupBy("key").agg(F.sum("est").alias("est_count"))
            .crossJoin(total_slack)
            .orderBy(F.desc("est_count"), F.asc("key"))
            .limit(top_n))


def mg_merge_compress(rows, k: int = 64) -> tuple[dict, int]:
    """Merge MG-summary rows — (key, est, slack) tuples from one or
    several summaries (``mg_partials(...).collect()``, a stored
    summary; duplicate keys allowed) — and compress the result back to
    at most ``k`` tracked keys: the Agarwal et al. '12 mergeable-
    summaries step. Sum per-key partials; if more than k keys survive,
    subtract the (k+1)-th largest estimate (est desc, key asc
    tie-break) from every key, drop non-positives, and add the
    subtracted amount to the slack. The [est, est + slack] undercount
    guarantee is preserved across arbitrary merge trees, which is what
    lets a STREAM maintain one bounded summary forever. Plain Python
    over O(k x summaries) rows; returns (counters, slack)."""
    counters: dict = {}
    slack_total = 0
    for key, est, slack in rows:
        slack_total += int(slack or 0)
        if key is not None:
            counters[key] = counters.get(key, 0) + int(est)
    if len(counters) > k:
        ordered = sorted(counters.items(), key=lambda kv: (-kv[1], kv[0]))
        m = ordered[k][1]
        counters = {key: c - m for key, c in ordered[:k] if c > m}
        slack_total += m
    return counters, slack_total


def heavy_hitters_mg(df: DataFrame, col: str, k: int = 64,
                     top_n: int = 20) -> DataFrame:
    """Approximate heavy hitters via mergeable Misra-Gries summaries
    (Misra & Gries '82; the deterministic frequent-items sketch the
    DataSketches FI sketch builds on — Spark 4 ships theta/HLL/KLL but
    no FI aggregate, so this fills the family's gap).

    Each partition folds its stream through a k-counter MG summary in
    one Arrow pass (count decrements spread over all keys, so any key's
    undercount is <= n_part/(k+1)); the exchange then carries AT MOST k
    rows per partition — never the stream — and the global estimate is
    the per-key sum of partial counts. Every reported count is an
    UNDERESTIMATE with a certified bound: true count is within
    [est, est + max_undercount], where max_undercount sums the
    per-partition DECREMENT-ROUND counts (each round can take at most 1
    from any key; at most n_part/(k+1) rounds can occur); any key whose
    true count exceeds max_undercount is guaranteed present. When a
    partition's distinct keys fit the k counters, its slack is exactly
    0 — the summary degrades gracefully into an exact count. Returns ``top_n`` rows
    (key, est_count, max_undercount) ordered est desc, key asc.

    The exact twin (`top_terms`-style full groupBy) shuffles the whole
    key stream; this shuffles k rows per task — the difference between
    a vocabulary-scale exchange and a constant one at 100 TB.
    """
    return mg_top(mg_partials(df, col, k), top_n)
