"""Range / interval joins (beyond-reference relational coverage).

A naive point-in-interval join (`p.v BETWEEN i.lo AND i.hi`) has no
equi-key, so Spark plans BroadcastNestedLoopJoin — O(N*M) compares, dead
at scale unless one side is tiny. The distributed fix: quantize intervals
into fixed-width buckets, explode each interval to the buckets it spans,
and equi-join points on bucket id before the exact BETWEEN filter. The
join key becomes the bucket, compares become O(N + M * span/width).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(points: DataFrame, intervals: DataFrame,
                  point_col: str, lo_col: str, hi_col: str,
                  bucket_width: float,
                  domain: tuple[float, float] | None = None) -> DataFrame:
    """Join each point row to every interval containing it (inclusive).

    `bucket_width` should be ~the typical interval length: too small
    explodes the interval side, too large degrades bucket selectivity.
    `domain=(lo, hi)` clamps interval bucketing to the points' value
    domain — REQUIRED for open-ended intervals (an interval with hi=1e9
    would otherwise explode to hi/width bucket rows); correctness is
    unaffected because points outside the domain can't match clamped
    buckets anyway and the exact BETWEEN filter still runs.
    The bucketed interval side is broadcast (interval tables are small),
    so the join is a broadcast hash join: zero shuffle of points.
    """
    b_pt = F.floor(F.col(point_col) / bucket_width).cast("long")
    b_lo = F.floor(F.col(lo_col) / bucket_width).cast("long")
    b_hi = F.floor(F.col(hi_col) / bucket_width).cast("long")
    if domain is not None:
        dom_lo = int(domain[0] // bucket_width)
        dom_hi = int(domain[1] // bucket_width)
        b_lo = F.greatest(b_lo, F.lit(dom_lo))
        b_hi = F.least(b_hi, F.lit(dom_hi))
    buckets = F.when(b_lo <= b_hi, F.sequence(b_lo, b_hi)) \
        .otherwise(F.array().cast("array<long>"))
    exploded = F.broadcast(
        intervals.withColumn("__bucket", F.explode(buckets)))
    joined = points.withColumn("__bucket", b_pt).join(exploded, "__bucket")
    exact = (F.col(point_col) >= F.col(lo_col)) & \
            (F.col(point_col) <= F.col(hi_col))
    return joined.filter(exact).drop("__bucket")
