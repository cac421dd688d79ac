"""Incremental aggregate maintenance (beyond-reference).

The daily-pipeline companion to `dedup.exact_dedup_incremental`: a
rollup table over an append-only fact stream must be maintainable at
BATCH cost, never by rescanning history — at 100 TB the history scan is
the whole budget. The trick is the classic mergeable-partial-aggregate
contract: keep the rollup in a mergeable form (count + decimal sum, from
which avg derives), aggregate each new batch alone, and merge the two
aggregate-sized tables. Every aggregate here is algebraic (count, sum,
min, max), so merge = group-by-key re-sum; the merge's shuffle carries
|rollup| + |batch-agg| rows — both aggregate-sized.

Sums accumulate in DECIMAL so the merged rollup is bit-equal to a
from-scratch aggregate regardless of partitioning or merge order (the
same order-independence doctrine as every decimal-summed query in
`registry/`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# decimal(27,6) sum slots: 21 integer digits absorbs 10^15 rows of
# 10^6-scale values without overflow; cast back to double only at read
_SUM_DECIMAL = "decimal(27,6)"


def rollup_batch(batch: DataFrame, keys: list[str],
                 value_col: str) -> DataFrame:
    """Aggregate one append batch into mergeable partial-aggregate form:
    (keys..., n, sum_v, min_v, max_v). Cost ∝ batch; map-side combined,
    the exchange carries one partial row per (task, key)."""
    return (batch.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value_col).cast(_SUM_DECIMAL)).cast(_SUM_DECIMAL)
        .alias("sum_v"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v")))


def merge_rollups(*rollups: DataFrame) -> DataFrame:
    """Merge any number of partial rollups (same schema) into one:
    group-by-key re-aggregation of the algebraic slots. Associative and
    commutative — a day's rollup can merge into a month's into a
    year's, in any order, and equal the from-scratch aggregate (pinned
    in tests and by the `incremental_rollup` oracle)."""
    if not rollups:
        raise ValueError("need at least one rollup to merge")
    out = rollups[0]
    for r in rollups[1:]:
        out = out.unionByName(r)
    keys = [c for c in out.columns
            if c not in ("n", "sum_v", "min_v", "max_v")]
    # re-cast to the canonical slot type: Spark widens a decimal SUM's
    # precision, and a widened slot changes the serving division's
    # result scale — merged and from-scratch rollups must stay the SAME
    # dtype or their 6th digit can differ
    return (out.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("sum_v").cast(_SUM_DECIMAL).alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v")))


def rollup_read(rollup: DataFrame, round_digits: int = 6) -> DataFrame:
    """Serving view of a mergeable rollup: derive avg from the slots and
    surface doubles. The only place decimals leave the pipeline."""
    return rollup.select(
        *[c for c in rollup.columns
          if c not in ("n", "sum_v", "min_v", "max_v")],
        F.col("n"),
        F.round(F.col("sum_v").cast("double"), round_digits)
        .alias("sum_value"),
        F.round((F.col("sum_v") / F.col("n")).cast("double"), round_digits)
        .alias("avg_value"),
        F.col("min_v").alias("min_value"),
        F.col("max_v").alias("max_value"))
