"""Event-stream, sessionization and temporal queries over ``events``."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dotnetvectorsearch_spark.functions.time import (
    event_bucket_seconds, event_epoch_seconds_long)
from dotnetvectorsearch_spark.localdf import local_df
from dotnetvectorsearch_spark.operators.ranges import interval_join
from dotnetvectorsearch_spark.operators.sketches import (
    hll_daily_distinct, kll_value_quantiles)
from dotnetvectorsearch_spark.operators.temporal import (
    debounce_events, funnel_steps, keyed_trends, prior_event_attribution,
    rolling_window_features)
from dotnetvectorsearch_spark.sources.io import load_table
from dotnetvectorsearch_spark.streaming.ingest import (
    session_rollup, sliding_rollup, stream_interval_join)


EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _q_user_event_pivot(spark, sf_dir):
    """Pivot: per-user event-type counts as columns, lowered to
    conditional aggregation. `.pivot(col, values)` plans TWO exchanges
    (count agg on (user, type), then pivotfirst on user); pinned pivot
    values as count-if expressions plan ONE user-keyed exchange with
    map-side partial aggregation — half the shuffle at any scale.
    Unbounded inferred pivot columns are additionally a driver OOM; pivot
    values must always be pinned at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        *[F.count(F.when(F.col("event_type") == t, 1)).alias(t)
          for t in EVENT_TYPES])


def _q_events_hourly(spark, sf_dir):
    """Tumbling-window aggregation over the event stream table (batch view
    of the Structured Streaming hourly rollup).

    events.ts is parquet TIMESTAMP(NANOS); depending on the runtime Spark
    surfaces it as long nanos or timestamp_ntz — event_bucket_seconds
    branches on the actual dtype, so the tumbling bucket is integer
    floor-division either way: exact, and identical to DuckDB's
    date_trunc('hour')."""
    ev = load_table(spark, sf_dir, "events")
    hour_epoch = event_bucket_seconds(ev, 3600)
    return (ev.groupBy(hour_epoch.alias("hour_epoch"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                 .alias("sum_value")))


def _q_click_purchase_interval(spark, sf_dir):
    """Interval join (batch twin of the watermarked stream-stream join):
    every (click, purchase) pair per user with the purchase inside the
    30-minute attribution window after the click."""
    ev = load_table(spark, sf_dir, "events")
    sec = event_epoch_seconds_long(ev)
    base = ev.select("event_id", "user_id", "event_type",
                     F.timestamp_seconds(sec).alias("t"))
    clicks = (base.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id",
                      F.col("t").alias("click_t")))
    purchases = (base.filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id"),
                         F.col("t").alias("purchase_t")))
    out = stream_interval_join(clicks, purchases, "user_id",
                               "click_t", "purchase_t", "30 minutes")
    return out.select(
        "user_id", "click_id", "purchase_id",
        (F.unix_timestamp("purchase_t") - F.unix_timestamp("click_t"))
        .alias("delta_sec"))


def _q_sessionize(spark, sf_dir):
    """Stateful sequence op: 30-minute-gap sessionization per user
    (batch twin of the streaming applyInPandasWithState sessionizer)."""
    ev = load_table(spark, sf_dir, "events")
    sec = event_epoch_seconds_long(ev)
    w = Window.partitionBy("user_id").orderBy("sec")
    prev = F.lag("sec").over(w)
    with_flag = (ev.select("user_id", sec.alias("sec"))
                 .withColumn("is_new",
                             F.when(prev.isNull() | (F.col("sec") - prev > 1800),
                                    1).otherwise(0)))
    return (with_flag.groupBy("user_id")
            .agg(F.sum("is_new").cast("long").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


def _q_events_distinct_users(spark, sf_dir):
    """Distinct aggregation: exact distinct users + event count per type."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.count(F.lit(1)).alias("n_events")))


def _q_asof_click_purchase(spark, sf_dir):
    """As-of attribution: for each purchase, the most recent click at or
    before it by the same user — single-shuffle running-max window, not a
    range join."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select("event_id", "user_id", "event_type",
                     event_epoch_seconds_long(ev).alias("sec"))
    out = prior_event_attribution(base, "user_id", "sec",
                                  target_type="purchase",
                                  source_type="click",
                                  out_prefix="last_click")
    return out.select(
        "event_id", "user_id",
        F.col("sec").alias("purchase_sec"),
        F.coalesce("last_click_ts", F.lit(-1)).alias("last_click_sec"))


def _q_props_json_stats(spark, sf_dir):
    """JSON extraction on the events props column + aggregation."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k")))


def _q_rolling_user_features(spark, sf_dir):
    """Trailing-1-hour per-user activity features (bounded RANGE-frame
    window): event count + exact value sum over [t-3600, t]."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select("event_id", "user_id", "value",
                     event_epoch_seconds_long(ev).alias("sec"))
    return (rolling_window_features(base, "user_id", "sec", "value",
                                    trailing_sec=3600)
            .select("event_id", "user_id", "sec",
                    "n_trailing", "sum_trailing"))


def _q_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (p50/p90/p99) of event value per
    type — the distribution profile a data-quality pass needs."""
    ev = load_table(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.5D, 0.9D, 0.99D))")
    return (ev.groupBy("event_type")
            .agg(pct.alias("p"))
            .select("event_type",
                    F.round(F.col("p")[0], 6).alias("p50"),
                    F.round(F.col("p")[1], 6).alias("p90"),
                    F.round(F.col("p")[2], 6).alias("p99")))


def _q_value_band_join(spark, sf_dir):
    """Range join: assign each event to overlapping value bands via
    bucketed interval join (equi-join on bucket + exact BETWEEN), not a
    nested-loop inequality join."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    bands = local_df(
        spark, [("tiny", 0.0, 10.0), ("low", 10.0, 25.0),
                ("mid", 20.0, 60.0), ("high", 55.0, 90.0),
                ("top", 85.0, 1e9)],
        "band string, lo double, hi double")
    out = interval_join(ev, bands, "value", "lo", "hi", bucket_width=25.0,
                        domain=(0.0, 1000.0))
    return (out.groupBy("band")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum(F.col("value").cast("decimal(18,6)"))
                         .cast("double"), 6).alias("sum_value")))


def _q_user_event_types(spark, sf_dir):
    """Array aggregation: per-user sorted distinct event types (joined to
    a string so the cross-engine value hash sees identical scalars)."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .agg(F.array_join(F.array_sort(F.collect_set("event_type")), ",")
                 .alias("types"),
                 F.count(F.lit(1)).alias("n_events")))


def _q_kll_value_quantiles(spark, sf_dir):
    """Mergeable per-event-type quantiles via KLL sketches (streaming /
    incremental twin of value_percentiles). Approximate -> rows-only."""
    ev = load_table(spark, sf_dir, "events")
    return kll_value_quantiles(ev, "value", "event_type")


def _q_hll_daily_users(spark, sf_dir):
    """Mergeable per-day distinct users + sketch-union lifetime total —
    the incremental HLL profile. Approximate -> rows-only."""
    ev = load_table(spark, sf_dir, "events")
    return hll_daily_distinct(ev, ts_col="ts", key_col="user_id")


def _q_approx_distinct_users(spark, sf_dir):
    """Sketch aggregation: HLL++ approximate distinct users per event
    type. At 100 TB exact distinct means shuffling every key; the sketch
    is fixed-size per group, merges associatively (map-side partial!),
    and lands within ~2% (rsd 0.02). Rows-only check (DuckDB's HLL is a
    different implementation with different estimates); accuracy vs exact
    is pinned in tests/test_sketches.py."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id", rsd=0.02)
                 .alias("approx_users"),
                 F.count(F.lit(1)).alias("n_events")))


def _q_approx_value_percentiles(spark, sf_dir):
    """Sketch quantiles: approx_percentile with accuracy 10000 — bounded
    memory per group vs the exact percentile's full sort. The scale twin
    of the exact `value_percentiles` query (both kept: exact for small
    groups, sketch for 100 TB)."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.percentile_approx("value", [0.5, 0.95, 0.99], 10000)
                 .alias("value_pcts")))


def _q_session_windows(spark, sf_dir):
    """Built-in session_window sessionization (batch twin of
    streaming.session_rollup): merge-on-touch semantics — an event at
    exactly gap distance still MERGES (the [start, last+gap] overlap test
    is closed); only a strictly larger gap starts a new session. Outputs
    epoch seconds (long), not timestamps, so the comparison is
    timezone-proof. events.ts dtype varies by runtime (long nanos or
    timestamp_ntz) — event_epoch_seconds_long handles both."""
    raw = load_table(spark, sf_dir, "events")
    ev = raw.select(
        "user_id",
        F.timestamp_seconds(event_epoch_seconds_long(raw)).alias("ts"))
    out = session_rollup(ev, gap="30 minutes")
    return out.select(
        "user_id",
        F.col("session_start").cast("long").alias("session_start_sec"),
        F.col("session_end").cast("long").alias("session_end_sec"),
        "n_events")


def _q_events_sliding(spark, sf_dir):
    """Sliding-window rollup (batch twin of streaming.sliding_rollup):
    1-hour windows every 30 minutes — each event lands in exactly 2
    windows. Epoch-second window starts for timezone-proof comparison."""
    raw = load_table(spark, sf_dir, "events")
    ev = raw.select(
        F.timestamp_seconds(event_epoch_seconds_long(raw)).alias("ts"),
        "event_type",
        # decimal in -> exact decimal sum inside the operator -> the
        # aggregate is order-independent and engine-exact
        F.col("value").cast("decimal(18,6)").alias("value"))
    out = sliding_rollup(ev)
    return out.select(
        F.col("window_start").cast("long").alias("window_start_sec"),
        "event_type", "n_events",
        F.col("sum_value").cast("double").alias("sum_value"))


def _q_event_funnel(spark, sf_dir):
    """Ordered-funnel conversion view -> click -> purchase: users
    completing each step strictly after the previous one AND within 24
    hours of it, with step-over-step and overall conversion rates.
    One user-keyed exchange feeds the whole window chain."""
    events = load_table(spark, sf_dir, "events")
    return funnel_steps(events, ["view", "click", "purchase"],
                        max_step_gap_sec=86400)


def _q_debounced_events(spark, sf_dir):
    """Event debounce (anchor semantics): per (user, type), drop events
    within 2 days of the last KEPT event — at-least-once-delivery /
    double-fire cleanup ahead of analytics. One key exchange + bounded
    per-key Arrow pass; lag()-based gap measurement is the pinned
    counterexample in tests. The sequential anchor chain is
    oracle-checked via a recursive CTE (one row per key per step)."""
    events = load_table(spark, sf_dir, "events")
    out = debounce_events(events, ["user_id", "event_type"], "ts",
                          min_gap_sec=2 * 86400,
                          tiebreak_col="event_id")
    return out.select("event_id", "user_id", "event_type")


def _q_user_value_trends(spark, sf_dir):
    """Per-user OLS trend of event value over time (slope/day,
    intercept, r²): five decimal-exact moment sums per key in ONE
    map-side-combined aggregate, closed-form scalar math in doubles —
    engine-portable to the 6th digit."""
    events = load_table(spark, sf_dir, "events")
    return keyed_trends(events, "user_id", "ts", "value")


def add_oracles(oracles: dict[str, str]) -> None:
    """Add this family's DuckDB oracle SQL to ``oracles``."""
    oracles.update({
        "user_event_pivot": """
            SELECT user_id,
                   count(*) FILTER (WHERE event_type = 'click')    AS click,
                   count(*) FILTER (WHERE event_type = 'view')     AS view,
                   count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                   count(*) FILTER (WHERE event_type = 'signup')   AS signup,
                   count(*) FILTER (WHERE event_type = 'error')    AS error
            FROM events GROUP BY user_id
        """,
        "events_hourly": """
            SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
                   event_type,
                   count(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS sum_value
            FROM events
            GROUP BY 1, 2
        """,
        "sessionize": """
            WITH e AS (
                SELECT user_id, epoch_ms(ts) // 1000 AS sec FROM events
            ), l AS (
                SELECT user_id, sec,
                       lag(sec) OVER (PARTITION BY user_id ORDER BY sec) AS prev
                FROM e
            )
            SELECT user_id,
                   CAST(SUM(CASE WHEN prev IS NULL OR sec - prev > 1800
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM l GROUP BY user_id
        """,
        "session_windows": """
            WITH e AS (
                SELECT user_id, epoch_ms(ts) // 1000 AS sec FROM events
            ), l AS (
                SELECT user_id, sec,
                       lag(sec) OVER (PARTITION BY user_id ORDER BY sec)
                           AS prev
                FROM e
            ), g AS (
                SELECT user_id, sec,
                       SUM(CASE WHEN prev IS NULL OR sec - prev > 1800
                                THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY sec
                                 ROWS UNBOUNDED PRECEDING) AS sid
                FROM l
            )
            SELECT user_id,
                   min(sec) AS session_start_sec,
                   max(sec) + 1800 AS session_end_sec,
                   count(*) AS n_events
            FROM g GROUP BY user_id, sid
        """,
        "events_sliding": """
            SELECT (epoch_ms(ts) // 1000 // 1800) * 1800 - k * 1800
                       AS window_start_sec,
                   event_type,
                   count(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS sum_value
            FROM events, UNNEST([0, 1]) AS t(k)
            GROUP BY 1, 2
        """,
        "events_distinct_users": """
            SELECT event_type,
                   count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "asof_click_purchase": """
            WITH e AS (
                SELECT event_id, user_id, event_type,
                       epoch_ms(ts) // 1000 AS sec
                FROM events
            ), w AS (
                SELECT event_id, user_id, event_type, sec,
                       max(CASE WHEN event_type = 'click' THEN sec END)
                           OVER (PARTITION BY user_id ORDER BY sec
                                 RANGE BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS lc
                FROM e
            )
            SELECT event_id, user_id, sec AS purchase_sec,
                   coalesce(lc, -1) AS last_click_sec
            FROM w WHERE event_type = 'purchase'
        """,
        "click_purchase_interval": """
            WITH e AS (
                SELECT event_id, user_id, event_type,
                       epoch_ms(ts) // 1000 AS sec
                FROM events
            )
            SELECT c.user_id,
                   c.event_id AS click_id,
                   p.event_id AS purchase_id,
                   p.sec - c.sec AS delta_sec
            FROM e c
            JOIN e p
              ON c.user_id = p.user_id
             AND c.event_type = 'click'
             AND p.event_type = 'purchase'
             AND p.sec >= c.sec
             AND p.sec <= c.sec + 1800
        """,
        "props_json_stats": """
            SELECT event_type,
                   count(*) AS n,
                   CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT)
                       AS sum_k,
                   MIN(CAST(props->>'$.k' AS BIGINT)) AS min_k,
                   MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
            FROM events GROUP BY event_type
        """,
        "rolling_user_features": """
            WITH e AS (
                SELECT event_id, user_id, epoch_ms(ts) // 1000 AS sec,
                       value
                FROM events
            )
            SELECT event_id, user_id, sec,
                   count(*) OVER w AS n_trailing,
                   round(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w
                         AS DOUBLE), 6) AS sum_trailing
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY sec
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        """,
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type
        """,
        "value_band_join": """
            WITH bands(band, lo, hi) AS (VALUES
                ('tiny', 0.0, 10.0), ('low', 10.0, 25.0),
                ('mid', 20.0, 60.0), ('high', 55.0, 90.0),
                ('top', 85.0, 1e9))
            SELECT band, count(*) AS n_events,
                   round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
                       AS sum_value
            FROM events JOIN bands
              ON value >= lo AND value <= hi
            GROUP BY band
        """,
        "user_event_types": """
            SELECT user_id,
                   array_to_string(list_sort(list(DISTINCT event_type)), ',')
                       AS types,
                   count(*) AS n_events
            FROM events GROUP BY user_id
        """,
    })
    # decimal moment sums -> double scalar math: both engines do the
    # IDENTICAL fp ops on identical inputs
    oracles["user_value_trends"] = """
        WITH m AS (
            SELECT user_id, count(*) AS n,
                   CAST(sum(CAST(epoch_us(ts) // 1000000 - 1704067200
                                 AS DECIMAL(20, 0))) AS DOUBLE) AS sx,
                   CAST(sum(CAST(value AS DECIMAL(27, 6)))
                        AS DOUBLE) AS sy,
                   CAST(sum(CAST(epoch_us(ts) // 1000000 - 1704067200
                                 AS DECIMAL(20, 0))
                            * CAST(epoch_us(ts) // 1000000 - 1704067200
                                   AS DECIMAL(20, 0)))
                        AS DOUBLE) AS sxx,
                   CAST(sum(CAST(epoch_us(ts) // 1000000 - 1704067200
                                 AS DECIMAL(20, 0))
                            * CAST(value AS DECIMAL(27, 6)))
                        AS DOUBLE) AS sxy,
                   CAST(sum(CAST(value AS DECIMAL(27, 6))
                            * CAST(value AS DECIMAL(27, 6)))
                        AS DOUBLE) AS syy
            FROM events GROUP BY 1
        )
        SELECT user_id, n,
               round(CASE WHEN n * sxx - sx * sx > 0
                     THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                          * 86400.0 END, 6) AS slope_per_day,
               round((sy - CASE WHEN n * sxx - sx * sx > 0
                           THEN (n * sxy - sx * sy)
                                / (n * sxx - sx * sx) END * sx)
                     / n, 6) AS intercept,
               round(CASE WHEN n * sxx - sx * sx > 0
                          AND n * syy - sy * sy > 0
                     THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                          / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                     END, 6) AS r2
        FROM m
    """
    oracles["event_funnel"] = """
        WITH w1 AS (
            SELECT user_id, event_type, ts,
                   min(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id) AS t1
            FROM events
        ), w2 AS (
            SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
                            AND ts <= t1 + INTERVAL 86400 SECOND
                          THEN ts END)
                       OVER (PARTITION BY user_id) AS t2
            FROM w1
        ), w3 AS (
            SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
                            AND ts <= t2 + INTERVAL 86400 SECOND
                          THEN ts END)
                       OVER (PARTITION BY user_id) AS t3
            FROM w2
        ), u AS (
            SELECT count(DISTINCT CASE WHEN t1 IS NOT NULL
                                  THEN user_id END) AS u1,
                   count(DISTINCT CASE WHEN t2 IS NOT NULL
                                  THEN user_id END) AS u2,
                   count(DISTINCT CASE WHEN t3 IS NOT NULL
                                  THEN user_id END) AS u3
            FROM w3
        )
        SELECT 1 AS step, 'view' AS event_type, u1 AS users,
               CASE WHEN u1 > 0 THEN 1.0 ELSE 0.0 END AS conv_from_first,
               1.0 AS conv_from_prev
        FROM u
        UNION ALL
        SELECT 2, 'click', u2,
               CASE WHEN u1 > 0
                    THEN round(CAST(u2 AS DOUBLE) / u1, 6) ELSE 0.0 END,
               CASE WHEN u1 > 0
                    THEN round(CAST(u2 AS DOUBLE) / u1, 6) ELSE 0.0 END
        FROM u
        UNION ALL
        SELECT 3, 'purchase', u3,
               CASE WHEN u1 > 0
                    THEN round(CAST(u3 AS DOUBLE) / u1, 6) ELSE 0.0 END,
               CASE WHEN u2 > 0
                    THEN round(CAST(u3 AS DOUBLE) / u2, 6) ELSE 0.0 END
        FROM u
    """
    # debounce (anchor semantics): the sequential per-key anchor chain
    # expressed as a recursive CTE — each iteration advances every
    # (user, type) group one row, carrying the last-KEPT anchor; kept
    # iff us - anchor >= gap. Same epoch-microsecond arithmetic as
    # functions/time.event_epoch_micros.
    oracles["debounced_events"] = """
        WITH RECURSIVE ev AS (
            SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
                   row_number() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY epoch_us(ts), event_id) AS rn
            FROM events
        ), chain AS (
            SELECT user_id, event_type, event_id, us, rn,
                   us AS anchor, TRUE AS kept
            FROM ev WHERE rn = 1
            UNION ALL
            SELECT e.user_id, e.event_type, e.event_id, e.us, e.rn,
                   CASE WHEN e.us - c.anchor >= 172800000000
                        THEN e.us ELSE c.anchor END,
                   e.us - c.anchor >= 172800000000
            FROM chain c
            JOIN ev e ON e.user_id = c.user_id
                     AND e.event_type = c.event_type
                     AND e.rn = c.rn + 1
        )
        SELECT event_id, user_id, event_type FROM chain WHERE kept
    """
