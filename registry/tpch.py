"""TPC-H and order-analytics queries."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dotnetvectorsearch_spark.operators.rollup import (
    merge_rollups, rollup_batch, rollup_read)
from dotnetvectorsearch_spark.operators.skew import key_skew_stats
from dotnetvectorsearch_spark.sources.io import load_table


def _q_tpch_q1(spark, sf_dir):
    """Relational agg at scale (TPC-H Q1 shape): map-side partial aggregation,
    decimal-cast sums for order-independent exactness."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    charge = disc_price * (1 + F.col("l_tax"))
    out = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
        .alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
        .alias("sum_base_price"),
        F.sum(disc_price.cast("decimal(18,6)")).cast("double")
        .alias("sum_disc_price"),
        F.sum(charge.cast("decimal(18,8)")).cast("double").alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return out.select(
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price", "sum_charge", "count_order",
        F.round(F.col("sum_qty") / F.col("count_order"), 6).alias("avg_qty"),
        F.round(F.col("sum_base_price") / F.col("count_order"), 6)
        .alias("avg_price"),
    )


def _q_tpch_q3(spark, sf_dir):
    """3-way join + agg + top-k (TPC-H Q3 shape). customer is the small side
    -> broadcast hash join, no shuffle of lineitem on the customer key."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = load_table(spark, sf_dir, "lineitem")
    joined = (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey))
    rev = F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,6)")).cast("double")
    return (joined.groupBy("l_orderkey")
            .agg(rev.alias("revenue"), F.count(F.lit(1)).alias("n_items"))
            .orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10))


def _q_top_orders_window(spark, sf_dir):
    """Window function: top-3 orders per customer by total price."""
    orders = load_table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")))
    return (orders.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice", "rn"))


def _q_customers_no_orders(spark, sf_dir):
    """Anti join: customers that never ordered."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


def _q_tpch_q5(spark, sf_dir):
    """5-way join + agg (TPC-H Q5 shape): dimension chain broadcast,
    lineitem never shuffled on a dimension key."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA")
    joined = (li
              .join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
              .filter(cust.c_nationkey == supp.s_nationkey)
              .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
              .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey))
    rev = F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,6)")).cast("double")
    return joined.groupBy("n_name").agg(rev.alias("revenue"))


def _q_distinct_brands(spark, sf_dir):
    """Set op: DISTINCT projection."""
    return load_table(spark, sf_dir, "part").select("p_brand").distinct()


def _q_rollup_revenue(spark, sf_dir):
    """ROLLUP hierarchy aggregation (nation -> order status) over a
    broadcast dimension chain; subtotal rows keyed 'ALL'."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = (orders
              .join(F.broadcast(cust),
                    orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(nation),
                    cust.c_nationkey == nation.n_nationkey))
    return (joined.rollup("n_name", "o_orderstatus")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                 .cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_orders"))
            .select(F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
                    F.coalesce("o_orderstatus", F.lit("ALL"))
                    .alias("o_orderstatus"),
                    "revenue", "n_orders"))


def _q_cube_orders(spark, sf_dir):
    """CUBE aggregation over order status x priority."""
    orders = load_table(spark, sf_dir, "orders")
    return (orders.cube("o_orderstatus", "o_orderpriority")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                 .cast("double").alias("total"),
                 F.count(F.lit(1)).alias("n_orders"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL"))
                    .alias("o_orderstatus"),
                    F.coalesce("o_orderpriority", F.lit("ALL"))
                    .alias("o_orderpriority"),
                    "total", "n_orders"))


def _q_repeat_customers(spark, sf_dir):
    """Set op INTERSECT: customers ordering in both 1995 and 1996."""
    orders = load_table(spark, sf_dir, "orders")
    y95 = (orders.filter(F.year("o_orderdate") == 1995)
           .select(F.col("o_custkey").alias("custkey")).distinct())
    y96 = (orders.filter(F.year("o_orderdate") == 1996)
           .select(F.col("o_custkey").alias("custkey")).distinct())
    return y95.intersect(y96)


def _q_churned_customers(spark, sf_dir):
    """Set op EXCEPT: 1995 customers who placed nothing in 1996."""
    orders = load_table(spark, sf_dir, "orders")
    y95 = (orders.filter(F.year("o_orderdate") == 1995)
           .select(F.col("o_custkey").alias("custkey")).distinct())
    y96 = (orders.filter(F.year("o_orderdate") == 1996)
           .select(F.col("o_custkey").alias("custkey")).distinct())
    return y95.exceptAll(y96)


def _q_sql_grouping_sets(spark, sf_dir):
    """SQL dialect surface: GROUPING SETS via spark.sql over a temp view."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
               coalesce(l_linestatus, 'ALL') AS l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                   AS sum_qty,
               count(*) AS n
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
    """)


def _q_tpch_q6(spark, sf_dir):
    """Single-table filter aggregate (TPC-H Q6 shape). All three predicates
    reach the parquet scan (PushedFilters: shipdate range, discount band,
    quantity cap) so row groups outside the year are never decoded; the
    aggregate is a one-row partial+final merge with no wide shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    out = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
    return out.agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount"))
              .cast("decimal(18,6)")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"))


def _q_tpch_q4(spark, sf_dir):
    """Order-priority check (TPC-H Q4 shape): EXISTS subquery expressed as a
    LEFT SEMI join — lineitem is never materialized per-order, and the semi
    join stops probing after the first match. Orders filtered to one quarter
    before the join so the probe side is small."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R")
    return (orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


def _q_tpch_q10(spark, sf_dir):
    """Returned-item revenue by customer (TPC-H Q10 shape): fact-fact join
    on orderkey, then broadcast dimension joins (customer, nation) so
    lineitem shuffles only once, on the order key; top-20 via
    TakeOrderedAndProject."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R")
    rev = F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,6)")).cast("double")
    joined = (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(nation),
                    cust.c_nationkey == nation.n_nationkey))
    return (joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
            .agg(rev.alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20))


def _q_tpch_q14(spark, sf_dir):
    """Promotion-revenue share (TPC-H Q14 shape): conditional aggregation
    over a broadcast part join; decimal accumulators so the CASE branch sums
    are order-independent, final ratio rounded once."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.agg(
        F.round(100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", disc)
                        .otherwise(zero)).cast("double")
                / F.sum(disc).cast("double"), 6).alias("promo_revenue_pct"))


def _q_tpch_q17(spark, sf_dir):
    """Small-quantity-order revenue (TPC-H Q17 shape): the correlated
    per-part average-quantity subquery is decorrelated into one grouped
    aggregate that is broadcast back against lineitem. The threshold
    l_quantity < 0.5 * avg(qty) is evaluated as
    2 * qty * cnt < sum_qty in decimals — exact, no float-division
    boundary flakiness between engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#23")
    per_part = (li.groupBy(F.col("l_partkey").alias("pp_partkey"))
                .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)"))
                     .alias("sum_qty"),
                     F.count(F.lit(1)).alias("cnt")))
    j = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
         .join(F.broadcast(per_part),
               li.l_partkey == per_part.pp_partkey))
    small = j.filter(
        F.col("l_quantity").cast("decimal(18,4)") * 2 * F.col("cnt")
        < F.col("sum_qty"))
    return small.agg(
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
                .cast("double") / 7.0, 6).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_rows"))


def _q_tpch_q18(spark, sf_dir):
    """Large-volume customers (TPC-H Q18 shape): HAVING on a grouped sum
    becomes an aggregate-then-join — the qualifying orderkeys (few) join
    back to orders, customer broadcast; top-20 by total price."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)"))
                .alias("sum_qty"))
           .filter(F.col("sum_qty") > 120))
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (orders.join(big, orders.o_orderkey == big.l_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .select("c_custkey", "c_name", "o_orderkey", "o_totalprice",
                    F.col("sum_qty").cast("double").alias("sum_qty"))
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(20))


def _q_tpch_q19(spark, sf_dir):
    """Disjunctive multi-predicate join (TPC-H Q19 shape): three OR'd
    brand/size/quantity bands over a broadcast part join. Catalyst extracts
    the common join key and pushes the residual disjunction below the
    aggregate; the filter stays in whole-stage codegen."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#11") & F.col("l_quantity").between(1, 11)
         & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23")
           & F.col("l_quantity").between(10, 20)
           & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#13")
           & F.col("l_quantity").between(20, 30)
           & F.col("p_size").between(1, 15)))
    return j.filter(cond).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
              .cast("decimal(18,6)")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"))


def _q_tpch_q7(spark, sf_dir):
    """Bilateral trade volume (TPC-H Q7 shape): two aliased copies of the
    nation dim (supplier side vs customer side), both broadcast; the big
    fact shuffles only for the final small group-by. Nation-pair filter
    applied post-join on broadcast columns — stays in codegen."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"),
                       F.col("n_name").alias("cust_nation"))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
         .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
         .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
         .filter(((F.col("supp_nation") == "NATION_1")
                  & (F.col("cust_nation") == "NATION_2"))
                 | ((F.col("supp_nation") == "NATION_2")
                    & (F.col("cust_nation") == "NATION_1"))))
    vol = F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,6)")).cast("double")
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").alias("l_year"))
            .agg(vol.alias("revenue")))


def _q_tpch_q8(spark, sf_dir):
    """National market share (TPC-H Q8 shape): conditional aggregation
    (sum(CASE)/sum) over a 7-table join; every dimension broadcast, the
    fact table is never shuffled on a dim key."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA")
    n1 = nation.select(F.col("n_nationkey").alias("c_nk"),
                       F.col("n_regionkey").alias("c_rk"))
    n2 = nation.select(F.col("n_nationkey").alias("s_nk"),
                       F.col("n_name").alias("supp_nation"))
    vol_col = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
         .join(orders, li.l_orderkey == orders.o_orderkey)
         .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
         .join(F.broadcast(n1), cust.c_nationkey == F.col("c_nk"))
         .join(F.broadcast(region), F.col("c_rk") == region.r_regionkey)
         .join(F.broadcast(n2), supp.s_nationkey == F.col("s_nk")))
    total = F.sum(vol_col.cast("decimal(18,6)")).cast("double")
    national = F.sum(F.when(F.col("supp_nation") == "NATION_3", vol_col)
                     .otherwise(F.lit(0.0)).cast("decimal(18,6)")) \
        .cast("double")
    return (j.groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(F.round(national / total, 6).alias("mkt_share"),
                 total.alias("total_volume")))


def _q_tpch_q9(spark, sf_dir):
    """Product-line profit by nation and year (TPC-H Q9 shape, adapted:
    the testdata has no partsupp, so supply cost is modeled as
    10% of p_retailprice per unit). Part filter pushed into the broadcast
    side; profit expression entirely in whole-stage codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity"))
    j = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
         .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
         .join(orders, li.l_orderkey == orders.o_orderkey)
         .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey))
    return (j.groupBy(F.col("n_name").alias("nation"),
                      F.year("o_orderdate").alias("o_year"))
            .agg(F.sum(profit.cast("decimal(18,6)")).cast("double")
                 .alias("sum_profit")))


def _q_tpch_q12(spark, sf_dir):
    """Priority-by-status counts (TPC-H Q12 shape, adapted: the testdata
    has no l_shipmode, so l_linestatus is the grouping axis). Conditional
    counting via sum(CASE) with map-side partial aggregation."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_linestatus")
            .agg(F.sum(F.when(high, 1).otherwise(0)).cast("long")
                 .alias("high_line_count"),
                 F.sum(F.when(high, 0).otherwise(1)).cast("long")
                 .alias("low_line_count")))


def _q_tpch_q13(spark, sf_dir):
    """Customer order-count distribution (TPC-H Q13 shape): LEFT join so
    zero-order customers land in the c_count=0 bucket, then a second
    aggregation builds the histogram. Two shuffles, both on shrinking
    data — the canonical distribution-of-counts pattern."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED")
    per_cust = (cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


def _q_tpch_q15(spark, sf_dir):
    """Top supplier by quarterly revenue (TPC-H Q15 shape): the revenue
    CTE is computed once, its max is a 1-row broadcast joined back —
    no recompute, no correlated subquery."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    supp = load_table(spark, sf_dir, "supplier")
    rev = (li.groupBy("l_suppkey")
           .agg(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                      .cast("decimal(18,6)")).cast("double")
                .alias("total_revenue")))
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (rev.join(F.broadcast(max_rev),
                     rev.total_revenue == max_rev.max_revenue)
            .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
            .select("s_suppkey", "s_name",
                    F.round("total_revenue", 6).alias("total_revenue")))


def _q_tpch_q16(spark, sf_dir):
    """Supplier diversity per part segment (TPC-H Q16 shape, adapted:
    no partsupp table, so actual shipments in lineitem stand in for the
    supplier catalog). count(DISTINCT) after a broadcast part join;
    Spark plans a two-phase distinct aggregate (partial dedup map-side)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 50))
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


def _q_tpch_q22(spark, sf_dir):
    """Dormant high-balance customers (TPC-H Q22 shape, adapted: nation
    key stands in for the phone country code, and "dormant" means no
    orders since 2000-01-01 — the synthetic data has no order-less
    customers at all). Scalar subquery (global avg) broadcast as a 1-row
    frame + anti join against the filtered orders."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(0, 3, 5, 7, 9, 11, 13))
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    # Exact decimal sum / count instead of F.avg: float summation order
    # differs between engines (and between partitionings), and customers
    # sitting within 1 ulp of the mean would flip the filter.
    avg_bal = (load_table(spark, sf_dir, "customer")
               .filter(F.col("c_acctbal") > 0.0)
               .agg((F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
                     .cast("double") / F.count(F.lit(1)))
                    .alias("avg_bal")))
    return (cust.crossJoin(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("avg_bal"))
            .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
                 .cast("double").alias("totacctbal")))


def _q_tpch_q2(spark, sf_dir):
    """Cheapest part per brand (TPC-H Q2 shape, adapted: no partsupp, so
    p_retailprice stands in for supply cost and lineitem shipments stand
    in for the supplier catalog). The correlated-min pattern: aggregate
    once, broadcast the tiny (brand, min) frame back — never a correlated
    re-scan per row."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "STANDARD")
    min_price = (part.groupBy(F.col("p_brand").alias("mb"))
                 .agg(F.min("p_retailprice").alias("min_price")))
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE")
    eu_supp = (supp.join(F.broadcast(nation),
                         supp.s_nationkey == nation.n_nationkey)
               .join(F.broadcast(region),
                     nation.n_regionkey == region.r_regionkey)
               .select("s_suppkey"))
    cheapest = part.join(
        F.broadcast(min_price),
        (part.p_brand == F.col("mb"))
        & (part.p_retailprice == F.col("min_price")))
    shipped = (li.join(F.broadcast(eu_supp),
                       li.l_suppkey == eu_supp.s_suppkey, "left_semi")
               .join(F.broadcast(cheapest),
                     li.l_partkey == cheapest.p_partkey))
    return (shipped.groupBy("p_brand", "p_partkey", "p_name",
                            "p_retailprice")
            .agg(F.countDistinct("l_suppkey").alias("n_eu_suppliers")))


def _q_tpch_q11(spark, sf_dir):
    """Important inventory (TPC-H Q11 shape, adapted: shipped value from
    lineitem stands in for stock value). GROUP BY + HAVING against a
    scalar fraction of the global total — the total is a 1-row broadcast,
    and the per-part aggregate is computed ONCE (persist) instead of once
    per side of the comparison."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") == 5)
    val = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_part = (li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey,
                        "left_semi")
                .groupBy("l_partkey")
                .agg(F.sum(val.cast("decimal(18,6)")).cast("double")
                     .alias("part_value"))
                .persist())
    total = per_part.agg(
        F.sum(F.col("part_value").cast("decimal(18,6)")).cast("double")
        .alias("total_value"))
    return (per_part.crossJoin(F.broadcast(total))
            .filter(F.col("part_value")
                    > F.lit(0.001) * F.col("total_value"))
            .select("l_partkey", F.round("part_value", 6)
                    .alias("part_value")))


def _q_tpch_q20(spark, sf_dir):
    """Promotion-heavy suppliers (TPC-H Q20 shape, adapted: shipped
    quantities stand in for partsupp availability). Conditional aggregate
    per supplier compared against its own total — one pass, sum(CASE),
    no self-join. Threshold 0.2 vs the ~1/6 expected PROMO share (the
    synthetic data assigns types uniformly, so TPC-H's 0.5 would be
    vacuously empty)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    promo_qty = F.sum(F.when(F.col("p_type") == "PROMO",
                             F.col("l_quantity")).otherwise(0.0)
                      .cast("decimal(18,4)")).cast("double")
    total_qty = F.sum(F.col("l_quantity").cast("decimal(18,4)")) \
        .cast("double")
    per_supp = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
                .groupBy("l_suppkey")
                .agg(promo_qty.alias("promo_qty"),
                     total_qty.alias("total_qty")))
    return (per_supp.filter(F.col("promo_qty")
                            > F.lit(0.2) * F.col("total_qty"))
            .join(F.broadcast(supp), per_supp.l_suppkey == supp.s_suppkey)
            .select("s_suppkey", "s_name", "promo_qty", "total_qty"))


def _q_tpch_q21(spark, sf_dir):
    """Suppliers who alone returned items on multi-supplier final orders
    (TPC-H Q21 shape, adapted: l_returnflag='R' stands in for the
    late-receipt predicate the testdata lacks). The exists/not-exists
    pair collapses into one grouped pass: count distinct suppliers,
    count distinct returning suppliers, keep orders where exactly one
    supplier returned — no correlated subqueries, no double scan."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    f_lines = li.join(orders, li.l_orderkey == orders.o_orderkey,
                      "left_semi")
    # Two-level aggregate instead of the double countDistinct: two
    # distinct aggs over one fact scan plan an Expand that triples
    # every lineitem row into the exchange; collapsing to distinct
    # (order, supplier) pairs first shuffles a third of the bytes with
    # full map-side combining (guide §2.3), and the per-order rollup is
    # then a cheap second-level agg. Same result set (n_supp = distinct
    # suppliers, n_r_supp = distinct suppliers with a returned line,
    # blame = max such supplier); measured 1.3-1.5s -> ~1.05s at sf0.1.
    per_os = (f_lines.groupBy("l_orderkey", "l_suppkey")
              .agg(F.max(F.col("l_returnflag") == "R").alias("__ret")))
    per_order = (per_os.groupBy("l_orderkey")
                 .agg(F.count(F.lit(1)).alias("n_supp"),
                      F.sum(F.col("__ret").cast("long"))
                      .alias("n_r_supp"),
                      F.max(F.when(F.col("__ret"), F.col("l_suppkey")))
                      .alias("blame_supp")))
    blamed = per_order.filter((F.col("n_supp") >= 2)
                              & (F.col("n_r_supp") == 1))
    return (blamed.join(F.broadcast(supp),
                        blamed.blame_supp == supp.s_suppkey)
            .groupBy("s_suppkey", "s_name")
            .agg(F.count(F.lit(1)).alias("numwait")))


def _q_incremental_rollup(spark, sf_dir):
    """Incremental aggregate maintenance: the (order-year, status)
    revenue rollup maintained as mergeable partials — history batch and
    today's batch aggregated separately, merged at aggregate cost, and
    (per the oracle) equal to the from-scratch aggregate. The daily
    rollup shape that never rescans 100 TB of history."""
    orders = load_table(spark, sf_dir, "orders")
    orders = orders.withColumn("order_year", F.year("o_orderdate"))
    history = orders.filter(F.col("o_orderkey") % 10 != 0)
    batch = orders.filter(F.col("o_orderkey") % 10 == 0)
    merged = merge_rollups(
        rollup_batch(history, ["order_year", "o_orderstatus"],
                     "o_totalprice"),
        rollup_batch(batch, ["order_year", "o_orderstatus"],
                     "o_totalprice"))
    return rollup_read(merged)


def _q_key_skew_report(spark, sf_dir):
    """Pre-join skew diagnosis on the order stream's customer key: the
    10 heaviest keys with their corpus share and the global max/mean
    ratio — the measurement that picks between salting, AQE skew-split,
    and out-of-band handling before a 100 TB join."""
    orders = load_table(spark, sf_dir, "orders")
    return key_skew_stats(orders, "o_custkey", top_n=10)


def add_oracles(oracles: dict[str, str]) -> None:
    """Add this family's DuckDB oracle SQL to ``oracles``."""
    oracles.update({
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                       AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                       AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                       AS DECIMAL(18,8))) AS DOUBLE) AS sum_charge,
                   count(*) AS count_order,
                   round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                         / count(*), 6) AS avg_qty,
                   round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                         AS DOUBLE) / count(*), 6) AS avg_price
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3": """
            SELECT l.l_orderkey,
                   CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                       AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1998-03-15'
            GROUP BY l.l_orderkey
            ORDER BY revenue DESC, l.l_orderkey ASC
            LIMIT 10
        """,
        "top_orders_window": """
            SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
                FROM orders
            ) WHERE rn <= 3
        """,
        "customers_no_orders": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey)
        """,
        "tpch_q5": """
            SELECT n_name,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,6))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
            GROUP BY n_name
        """,
        "tpch_q6": """
            SELECT CAST(SUM(CAST(l_extendedprice * l_discount
                       AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "tpch_q4": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
              AND o.o_orderdate <  TIMESTAMP '1996-10-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_returnflag = 'R')
            GROUP BY o_orderpriority
        """,
        "tpch_q10": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,6))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-10-01'
              AND o_orderdate <  TIMESTAMP '1997-01-01'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "tpch_q14": """
            SELECT round(100.0
                   * CAST(SUM(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,6))
                         ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                   / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE), 6)
                       AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
        """,
        "tpch_q17": """
            WITH per_part AS (
                SELECT l_partkey AS pp_partkey,
                       SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty,
                       count(*) AS cnt
                FROM lineitem GROUP BY 1
            )
            SELECT round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)))
                         AS DOUBLE) / 7.0, 6) AS avg_yearly,
                   count(*) AS n_rows
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN per_part pp ON l.l_partkey = pp.pp_partkey
            WHERE p.p_brand = 'Brand#23'
              AND CAST(l.l_quantity AS DECIMAL(18,4)) * 2 * pp.cnt
                  < pp.sum_qty
        """,
        "tpch_q18": """
            SELECT c_custkey, c_name, o_orderkey, o_totalprice,
                   CAST(sum_qty AS DOUBLE) AS sum_qty
            FROM orders
            JOIN (SELECT l_orderkey,
                         SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty
                  FROM lineitem GROUP BY 1
                  HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 120) big
              ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 20
        """,
        "tpch_q19": """
            SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
                   count(*) AS n_rows
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#11' AND l_quantity BETWEEN 1 AND 11
                   AND p_size BETWEEN 1 AND 5)
               OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
                   AND p_size BETWEEN 1 AND 10)
               OR (p_brand = 'Brand#13' AND l_quantity BETWEEN 20 AND 30
                   AND p_size BETWEEN 1 AND 15)
        """,
        "tpch_q7": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l_shipdate) AS l_year,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,6))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY 1, 2, 3
        """,
        "tpch_q8": """
            SELECT year(o_orderdate) AS o_year,
                   round(CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_3'
                           THEN l_extendedprice * (1 - l_discount)
                           ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
                         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE), 6) AS mkt_share,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,6))) AS DOUBLE) AS total_volume
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
            GROUP BY 1
        """,
        "tpch_q9": """
            SELECT n_name AS nation, year(o_orderdate) AS o_year,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       - 0.1 * p_retailprice * l_quantity
                       AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_type = 'PROMO'
            GROUP BY 1, 2
        """,
        "tpch_q12": """
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
            GROUP BY 1
        """,
        "tpch_q13": """
            WITH per_cust AS (
                SELECT c_custkey, count(o_orderkey) AS c_count
                FROM customer
                LEFT JOIN (SELECT * FROM orders
                           WHERE o_orderpriority <> '4-NOT SPECIFIED') o
                  ON c_custkey = o.o_custkey
                GROUP BY c_custkey
            )
            SELECT c_count, count(*) AS custdist
            FROM per_cust GROUP BY c_count
        """,
        "tpch_q15": """
            WITH rev AS (
                SELECT l_suppkey,
                       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate <  TIMESTAMP '1996-04-01'
                GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, round(total_revenue, 6) AS total_revenue
            FROM rev
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        """,
        "tpch_q16": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#5'
              AND p_size IN (1, 4, 9, 14, 23, 36, 45, 50)
            GROUP BY 1, 2, 3
        """,
        "tpch_q22": """
            WITH avg_bal AS (
                SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                       / count(*) AS avg_bal
                FROM customer WHERE c_acctbal > 0.0
            )
            SELECT c_nationkey, count(*) AS numcust,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                       AS totacctbal
            FROM customer, avg_bal
            WHERE c_nationkey IN (0, 3, 5, 7, 9, 11, 13)
              AND c_acctbal > avg_bal
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '2000-01-01')
            GROUP BY c_nationkey
        """,
        "tpch_q2": """
            WITH std AS (
                SELECT * FROM part WHERE p_type = 'STANDARD'
            ), mp AS (
                SELECT p_brand AS mb, min(p_retailprice) AS min_price
                FROM std GROUP BY 1
            ), cheapest AS (
                SELECT p.* FROM std p
                JOIN mp ON p.p_brand = mp.mb
                       AND p.p_retailprice = mp.min_price
            ), eu AS (
                SELECT s_suppkey FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'EUROPE'
            )
            SELECT p_brand, p_partkey, p_name, p_retailprice,
                   count(DISTINCT l_suppkey) AS n_eu_suppliers
            FROM lineitem
            JOIN cheapest ON l_partkey = p_partkey
            WHERE l_suppkey IN (SELECT s_suppkey FROM eu)
            GROUP BY 1, 2, 3, 4
        """,
        "tpch_q11": """
            WITH pv AS (
                SELECT l_partkey,
                       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS part_value
                FROM lineitem
                WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                                    WHERE s_nationkey = 5)
                GROUP BY 1
            )
            SELECT l_partkey, round(part_value, 6) AS part_value
            FROM pv
            WHERE part_value > 0.001 *
                  (SELECT CAST(SUM(CAST(part_value AS DECIMAL(18,6)))
                          AS DOUBLE) FROM pv)
        """,
        "tpch_q20": """
            WITH per_supp AS (
                SELECT l_suppkey,
                       CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                THEN l_quantity ELSE 0.0 END
                                AS DECIMAL(18,4))) AS DOUBLE) AS promo_qty,
                       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
                            AS DOUBLE) AS total_qty
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate <  TIMESTAMP '1998-01-01'
                GROUP BY 1
            )
            SELECT s_suppkey, s_name, promo_qty, total_qty
            FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
            WHERE promo_qty > 0.2 * total_qty
        """,
        "tpch_q21": """
            WITH per_order AS (
                SELECT l_orderkey,
                       count(DISTINCT l_suppkey) AS n_supp,
                       count(DISTINCT CASE WHEN l_returnflag = 'R'
                             THEN l_suppkey END) AS n_r_supp,
                       max(CASE WHEN l_returnflag = 'R'
                           THEN l_suppkey END) AS blame_supp
                FROM lineitem
                WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                                     WHERE o_orderstatus = 'F')
                GROUP BY 1
            )
            SELECT s_suppkey, s_name, count(*) AS numwait
            FROM per_order JOIN supplier ON blame_supp = s_suppkey
            WHERE n_supp >= 2 AND n_r_supp = 1
            GROUP BY 1, 2
        """,
        "distinct_brands": """
            SELECT DISTINCT p_brand FROM part
        """,
        "rollup_revenue": """
            SELECT coalesce(n_name, 'ALL') AS n_name,
                   coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                       AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY ROLLUP(n_name, o_orderstatus)
        """,
        "cube_orders": """
            SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
                   coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                       AS total,
                   count(*) AS n_orders
            FROM orders
            GROUP BY CUBE(o_orderstatus, o_orderpriority)
        """,
        "repeat_customers": """
            SELECT DISTINCT o_custkey AS custkey FROM orders
            WHERE year(o_orderdate) = 1995
            INTERSECT
            SELECT DISTINCT o_custkey AS custkey FROM orders
            WHERE year(o_orderdate) = 1996
        """,
        "churned_customers": """
            SELECT DISTINCT o_custkey AS custkey FROM orders
            WHERE year(o_orderdate) = 1995
            EXCEPT
            SELECT DISTINCT o_custkey AS custkey FROM orders
            WHERE year(o_orderdate) = 1996
        """,
        "sql_grouping_sets": """
            SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
                   coalesce(l_linestatus, 'ALL') AS l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                       AS sum_qty,
                   count(*) AS n
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_returnflag), ())
        """,
    })
    oracles["key_skew_report"] = """
        WITH c AS (
            SELECT CAST(o_custkey AS VARCHAR) AS key, count(*) AS n
            FROM orders GROUP BY 1
        ), t AS (
            SELECT sum(n) AS total, max(n) AS mx,
                   count(*) AS keys FROM c
        )
        SELECT c.key, c.n,
               round(CAST(c.n AS DOUBLE) / t.total, 6) AS share,
               round(CAST(t.mx AS DOUBLE)
                     / (CAST(t.total AS DOUBLE) / t.keys), 6)
                   AS max_over_mean
        FROM c, t
        ORDER BY c.n DESC, c.key ASC
        LIMIT 10
    """
    # the oracle aggregates FROM SCRATCH — equality proves the
    # mergeable-partials maintenance path
    oracles["incremental_rollup"] = """
        SELECT year(o_orderdate) AS order_year, o_orderstatus,
               count(*) AS n,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(27, 6)))
                          AS DOUBLE), 6) AS sum_value,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(27, 6)))
                          / count(*) AS DOUBLE), 6) AS avg_value,
               min(o_totalprice) AS min_value,
               max(o_totalprice) AS max_value
        FROM orders
        GROUP BY 1, 2
    """
