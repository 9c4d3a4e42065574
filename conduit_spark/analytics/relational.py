"""Relational query suite over the TPC-H-ish testdata.

Each query is a pure function ``(spark, sf_dir) -> DataFrame`` written
with the DataFrame API so Catalyst owns the physical plan (broadcast
joins for dims, partial aggregation, parquet filter/column pushdown).
``ORACLES`` holds the DuckDB-equivalent SQL used by the driver's
correctness gate.

Float determinism across engines: aggregate sums go through
DECIMAL(18,2)/(18,4) (exact, order-insensitive) and are cast back to
DOUBLE at the end, so Spark's partition-order-dependent double addition
can never hash-differently from DuckDB's.

Scale notes (100 TB): every query below shuffles only on its group/join
keys; fact-fact joins (orders ⋈ lineitem) hash-partition on the join
key and benefit from AQE skew splitting. One sanctioned SF-bounded
driver transfer exists: ``bloom_runtime_filter`` moves its bit vector
(~8 bits per build key, 32 KiB–2 MiB) plus a scalar key count through
the driver — the same state Spark's own InjectRuntimeFilter
coordinates. Nothing else collects.

Broadcast-hint policy: explicit ``F.broadcast`` hints appear ONLY on
relations whose size is constant in SF — nation (25 rows), region (5),
and 1-row scalar aggregates. customer/supplier/part grow linearly with
SF (150M customers at sf1000), so a forced hint would OOM executors at
cluster scale; those joins are left unhinted and Catalyst/AQE promotes
them to broadcast at runtime whenever the actual size is under
``spark.sql.autoBroadcastJoinThreshold`` — same local plan, no
scale-up hazard.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from conduit_spark.sources.tables import load_events_raw, load_table
from conduit_spark.analytics import ordered_result
from conduit_spark.plans import barrier


def _dec(col, scale: int = 2):
    return col.cast(f"decimal(18,{scale})")


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 adapted: pricing summary report over lineitem.

    Flagship: scan-heavy, single shuffle on a tiny group key, partial
    aggregation map-side — the canonical 100 TB-friendly plan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _dec(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - _dec(F.col("l_discount"))
    )
    charge = disc_price * (F.lit(1).cast("decimal(18,2)") + _dec(F.col("l_tax")))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .transform(ordered_result, "l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 adapted: unshipped orders with highest revenue.

    customer is broadcast (small side); orders ⋈ lineitem shuffles on
    o_orderkey/l_orderkey. Top-10 with a unique tiebreak so the result
    set is deterministic for the oracle.
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    revenue = F.sum(
        _dec(F.col("l_extendedprice"))
        * (F.lit(1).cast("decimal(18,2)") - _dec(F.col("l_discount")))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 adapted: revenue per nation within a region.

    region→nation→customer chain broadcasts; the only real shuffle is
    orders ⋈ lineitem + the final tiny aggregation.
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    revenue = F.sum(
        _dec(F.col("l_extendedprice"))
        * (F.lit(1).cast("decimal(18,2)") - _dec(F.col("l_discount")))
    )
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "c_nationkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dims, orders.o_custkey == dims.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (dims.c_nationkey == supp.s_nationkey),
        )
        .groupBy("n_name")
        .agg(revenue.cast("double").alias("revenue"))
        .transform(ordered_result, F.desc("revenue"), F.asc("n_name"))
    )


def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue and volume per part brand (part dim broadcast)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("revenue"),
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("total_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .transform(ordered_result, "p_brand")
    )


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: order-priority counts via semi-join.

    left_semi avoids materializing the lineitem side post-join — at
    scale this halves the shuffle write vs join+distinct.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .transform(ordered_result, "o_orderpriority")
    )


def q_customer_orders_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: top-2 orders per customer by total price.

    rank within partition — shuffle on o_custkey once; ties broken by
    orderkey for determinism.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            "rn",
        )
    )


def q_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-stream rollup: per-type counts, value stats, distinct users."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(_dec(F.col("value"))).cast("double").alias("total_value"),
            F.min(_dec(F.col("value"))).cast("double").alias("min_value"),
            F.max(_dec(F.col("value"))).cast("double").alias("max_value"),
        )
        .transform(ordered_result, "event_type")
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time rollup (batch analog of a streaming window)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec(F.col("value"))).cast("double").alias("total_value"),
        )
        .transform(ordered_result, "hour", "event_type")
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan+filter+agg — the predicate-pushdown poster
    child (all three filters reach the parquet scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec(F.col("l_extendedprice")) * _dec(F.col("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style: profit by nation and year (supplier dim chain)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("a")
    )
    profit = F.sum(
        _dec(F.col("l_extendedprice"))
        * (F.lit(1).cast("decimal(18,2)") - _dec(F.col("l_discount")))
    )
    dims = supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dims, li.l_suppkey == dims.s_suppkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(profit.cast("double").alias("profit"))
        .transform(ordered_result, "nation", F.desc("o_year"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: top customers by lost revenue on returns."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    revenue = F.sum(
        _dec(F.col("l_extendedprice"))
        * (F.lit(1).cast("decimal(18,2)") - _dec(F.col("l_discount")))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets surface: revenue rollup region → nation → total."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.sum(_dec(F.col("o_totalprice"))).cast("double").alias("total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .transform(ordered_result, 
            F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first()
        )
    )


def q_orders_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: orders with no lineitems (left_anti — the set-diff
    surface). Shuffles on the key; AQE demotes to broadcast when the
    right side turns out small."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .transform(ordered_result, "o_orderkey")
    )


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style: shipping volume between distinct nation pairs."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    vol = F.sum(
        _dec(F.col("l_extendedprice"))
        * (F.lit(1).cast("decimal(18,2)") - _dec(F.col("l_discount")))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(vol.cast("double").alias("volume"))
        .transform(ordered_result, "supp_nation", "cust_nation", "l_year")
    )


def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style: CASE aggregation — urgent vs other order counts
    per line status (conditional count inside one pass)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).alias("low_line_count"),
        )
        .transform(ordered_result, "l_linestatus")
    )


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer order-count distribution (left join keeps
    zero-order customers; two-level aggregation)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .transform(ordered_result, F.desc("custdist"), F.desc("c_count"))
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style: correlated avg subquery — revenue from orders
    below 50%% of the part's average quantity (decorrelated to a
    broadcast-joined per-part aggregate; the scalable form of the
    correlated subquery)."""
    li = load_table(spark, sf_dir, "lineitem")
    avg_by_part = li.groupBy(F.col("l_partkey").alias("p_key")).agg(
        (
            F.sum(_dec(F.col("l_quantity"))).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_qty")
    )
    return (
        li.join(avg_by_part, li.l_partkey == avg_by_part.p_key)
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .agg(
            F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds a threshold
    (groupBy-HAVING feeding a semi-join back to the detail)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec(F.col("l_quantity"))).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 120)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "total_qty")
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(25)
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style: disjunction of conjunctive clauses (tests
    OR-predicate pushdown and join-condition simplification)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15)) & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 25)) & (F.col("l_quantity") >= 5) & (F.col("l_quantity") <= 40))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 35)) & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 50))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.sum(
                _dec(F.col("l_extendedprice"))
                * (F.lit(1).cast("decimal(18,2)") - _dec(F.col("l_discount")))
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style: customers with above-average balance and no
    orders in a window (scalar-subquery average + anti-join)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(_dec(F.col("c_acctbal"))).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(_dec(F.col("c_acctbal"))).cast("double").alias("total_bal"),
        )
        .transform(ordered_result, "c_mktsegment")
    )


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per event type (Spark's exact ``percentile``
    uses linear interpolation — numerically identical to DuckDB's
    quantile_cont; at 100 TB swap for approx_percentile and accept
    a rows-only gate)."""
    ev = load_table(spark, sf_dir, "events")
    pcts = F.percentile("value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        ev.groupBy("event_type")
        .agg(
            pcts[0].alias("p25"),
            pcts[1].alias("p50"),
            pcts[2].alias("p75"),
        )
        .transform(ordered_result, "event_type")
    )


OUTLIER_Z = 3.0


def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score anomaly detection: events whose value sits
    more than ``OUTLIER_Z`` sample standard deviations from their
    type's mean — the classic monitoring/data-cleaning scan.

    Exactness across engines: the moments are EXACT DECIMAL sums
    (sum and sum-of-squares of DECIMAL(18,2) values), cast to double
    only once, and the mean/variance/z formulas are textually
    identical in Spark and the oracle — so every double on both sides
    goes through the same IEEE-754 operation sequence and the rounded
    z-scores agree bit-for-bit.

    Plan shape: one keyed agg (|event_type| rows of O(1) moment
    state — mergeable partials, the Welford-free two-moment form),
    broadcast back to the fact scan for the z filter. At 100 TB this
    is one scan + one broadcast; nothing shuffles the fact table.
    """
    ev = load_table(spark, sf_dir, "events")
    d = F.col("value").cast("decimal(18,2)")
    stats = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(d).cast("double").alias("sv"),
            F.sum(d * d).cast("double").alias("sq"),
        )
        .select(
            "event_type",
            "n",
            (F.col("sv") / F.col("n")).alias("mean"),
            F.sqrt(
                (F.col("sq") - F.col("sv") * F.col("sv") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("sd"),
        )
    )
    z = (F.col("value").cast("double") - F.col("mean")) / F.col("sd")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.col("value").cast("double").alias("value"),
            F.round(z, 6).alias("z_score"),
        )
        .filter(F.abs(F.col("z_score")) > OUTLIER_Z)
        .transform(ordered_result, "event_id")
    )


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values (binning is pure integer
    arithmetic — one scan, one tiny shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / F.lit(20.0)).cast("int") + 1, F.lit(0)),
        F.lit(11),
    )
    return (
        ev.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(ordered_result, "bucket")
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style: promo revenue share (conditional aggregation
    ratio; LIKE predicate on the broadcast dim)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    disc = _dec(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - _dec(F.col("l_discount"))
    )
    promo = F.col("p_type").startswith("PROMO")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(F.when(promo, disc).otherwise(F.lit(0).cast("decimal(18,2)"))).cast("double")
            / F.sum(disc).cast("double")
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style: distinct supplier counts per brand/size bucket
    (distinct aggregation after a fact join)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 25)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_size"))
        .limit(40)
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 adapted: NATION_3 suppliers' share of ECONOMY-part
    revenue sold to ASIA customers, per order year.

    All dims (part-filtered, customer-in-region, supplier-nation)
    broadcast; the only big shuffle is lineitem ⋈ orders on orderkey.
    Share = decimal-exact sums cast to double before the division, so
    both engines divide identical doubles.
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation_c = load_table(spark, sf_dir, "nation")
    nation_s = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    vol = _dec(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - _dec(F.col("l_discount"))
    )
    cust_in_region = (
        cust.join(F.broadcast(nation_c), cust.c_nationkey == nation_c.n_nationkey)
        .join(F.broadcast(region), nation_c.n_regionkey == region.r_regionkey)
        .select("c_custkey")
    )
    supp_nation = supp.join(
        F.broadcast(nation_s), supp.s_nationkey == nation_s.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_in_region, orders.o_custkey == F.col("c_custkey"))
        .join(supp_nation, li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                        F.lit(0).cast("decimal(18,2)")
                    )
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .transform(ordered_result, "o_year")
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 adapted: supplier(s) with max revenue in 1996Q1.

    Revenue per supplier is one keyed agg; the max-filter is a scalar
    ``agg(max)`` broadcast back as an equi-join — NOT a
    ``Window.partitionBy()`` over the aggregate, which would funnel
    every supplier row (10M at sf1000) into a single WindowExec task.
    The aggregate is checkpointed so the scalar max and the join
    probe both read the materialized relation: exactly ONE lineitem
    scan (a naive self-reference re-evaluates the agg, and plan-level
    exchange reuse is not guaranteed under AQE replanning).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = barrier(li.groupBy("l_suppkey").agg(
        F.sum(
            _dec(F.col("l_extendedprice"))
            * (F.lit(1).cast("decimal(18,2)") - _dec(F.col("l_discount")))
        )
        .cast("double")
        .alias("total_revenue")
    ))
    max_rev = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.join(
            F.broadcast(max_rev),
            F.col("total_revenue") == F.col("max_rev"),
        )
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        # deliberately a bare orderBy (NOT ordered_result): the result
        # is a one-row relation (the max-revenue supplier), so there is
        # no range-sampling job to save, and the plain plan keeps the
        # single-lineitem-scan property visible to its shape test.
        .orderBy("s_suppkey")
    )


def q_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured surface: extract a JSON property from the events
    ``props`` column and aggregate per event type — the
    get_json_object path stays JVM-side (Jackson in codegen), no UDF.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            (F.sum(k).cast("double") / F.count(k).cast("double")).alias("avg_k"),
        )
        .transform(ordered_result, "event_type")
    )


def q_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day cohort retention: of the users active on day D,
    how many are active on D+1 (the classic events self-join).

    Two keyed aggregations + one equi self-join on (user, day) — the
    daily-active relation is tiny relative to events, so the join cost
    is bounded by distinct (user, day), not raw events.
    """
    ev = load_table(spark, sf_dir, "events")
    active = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    nxt = active.select(
        F.col("user_id").alias("u2"), F.date_sub(F.col("day"), 1).alias("d2")
    )
    return (
        active.join(
            nxt,
            (F.col("user_id") == F.col("u2")) & (F.col("day") == F.col("d2")),
            "left",
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.count("u2").alias("retained_next_day"),
        )
        # DATE → TIMESTAMP for the output: a pandas/Arrow-based harness
        # coerces DATE to datetime64, so a date column can never
        # hash-match cross-engine; every other date in the suite is
        # already a timestamp
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "active_users",
            "retained_next_day",
        )
        .transform(ordered_result, "day")
    )


def q20_part_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style: suppliers who shipped more than half a part's
    1996 volume (nested aggregate threshold + semi-join chain)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sq")
    )
    per_p = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(_dec(F.col("l_quantity"))).cast("double").alias("pq")
    )
    supp = load_table(spark, sf_dir, "supplier")
    heavy = (
        per_ps.join(per_p, per_ps.l_partkey == per_p.pk)
        .filter(F.col("sq") > F.lit(0.5) * F.col("pq"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .transform(ordered_result, "s_suppkey")
    )


def q_user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics: gap stats between consecutive events per
    user. Both engines see identical micros values (DuckDB 1.0 reads
    parquet TIMESTAMP_NANOS as micros-TIMESTAMP with truncation; our
    loader does the same exact ``ts div 1000``), so window ordering and
    gaps agree exactly; the round-1 hash mismatch was DuckDB's
    ``sum(BIGINT)`` → HUGEINT → float64 via pandas, fixed by the
    BIGINT cast in the oracle."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn(
        "gap_us",
        F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w),
    ).filter(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
            F.sum("gap_us").alias("total_gap_us"),
        )
        .transform(ordered_result, "user_id")
    )


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user — the batch
    form of Structured Streaming's ``session_window`` (the same
    expression works under ``readStream`` + watermark;
    streaming/windows.py). Oracle = the classic gap-and-islands SQL,
    proving Spark's merge semantics (new session when the gap is
    ≥ the timeout) value-exactly."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("sw")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return agg.select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
    ).transform(ordered_result, "user_id", "session_start")


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 adapted (schema has no partsupp; lineitem is the
    supply relation): for each small STANDARD part, the EUROPE
    supplier(s) offering the minimum observed unit price.

    The correlated min-subquery becomes a keyed agg + equi-join-back
    (never a window over all offers — that single-tasks per-part data
    at scale). nation/region are SF-constant and broadcast; the two
    offer aggregations shuffle on (partkey[, suppkey]) only, and both
    probe sides read ONE checkpoint-materialized offer relation,
    so lineitem is scanned once. Unit price is an IEEE double division
    (double/double), bit-identical in Spark and DuckDB, so the
    min-equality join is exact.
    """
    # r14 session 3: part and supp each feed TWO differently-projected
    # broadcast builds (the offers pre-filter and the final join) and,
    # as with q15's agg, exchange/subtree reuse is not guaranteed
    # across them under AQE — both relations re-scanned and re-joined
    # once per consumer. One barrier each runs them once
    # (calm-box A/B 1.04 → 0.88s, rows proven equal).
    part = barrier(
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10))
    )
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = barrier(
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .join(F.broadcast(reg), F.col("n_regionkey") == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = load_table(spark, sf_dir, "lineitem")
    offers = barrier(
        li.join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .join(supp.select("s_suppkey"), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
        )
    )
    best = offers.groupBy(F.col("l_partkey").alias("bk")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    return (
        offers.join(
            best,
            (offers.l_partkey == best.bk)
            & (offers.unit_cost == best.min_cost),
        )
        .join(supp, offers.l_suppkey == supp.s_suppkey)
        .join(part, offers.l_partkey == part.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "unit_cost"
        )
        .transform(ordered_result, F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 adapted: parts whose revenue through suppliers of one
    nation exceeds a fraction of that nation's total (HAVING against a
    scalar subquery).

    The scalar total is a 1-row aggregate broadcast into the filter —
    a cross-join with a 1-row relation, not a window. Per-part sums
    are exact DECIMAL (order-insensitive) cast to DOUBLE at the end;
    the threshold compare runs on the same double values both engines
    compute, so the HAVING boundary cannot flip between Spark and
    DuckDB.
    """
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey
    )
    li = load_table(spark, sf_dir, "lineitem")
    value_expr = _dec(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - _dec(F.col("l_discount"))
    )
    per_part = barrier(
        li.join(supp.select("s_suppkey"), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(value_expr).alias("value_dec"))
    )
    # Threshold compare stays in exact decimal end-to-end — a
    # double-rounded boundary could flip a borderline part between
    # engines; only the OUTPUT column is cast to double.
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("value_dec")
            > F.lit("0.001").cast("decimal(4,3)") * F.col("total_dec")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("value_dec").cast("double").alias("value"),
        )
        .transform(ordered_result, F.desc("value"), "p_partkey")
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adapted: suppliers who were the SOLE late shipper in a
    multi-supplier finalized order ("kept orders waiting"); late means
    shipping >60 days after the order date.

    The EXISTS / NOT-EXISTS pair over lineitem becomes two keyed
    aggregations: per (order, supplier) late-line counts, then per
    order supplier/late-supplier counts — no correlated re-scans, no
    self-join explosion; everything shuffles on l_orderkey once and on
    (l_orderkey, l_suppkey) once. numwait counts late LINES (official
    Q21 counts l1 rows, not distinct pairs).
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).cast("int")
    pair = barrier(
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum(late).alias("late_lines"))
    )
    ostats = pair.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum((F.col("late_lines") > 0).cast("int")).alias("n_late_supp"),
    )
    winners = pair.filter(F.col("late_lines") > 0).join(
        ostats.filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)),
        pair.l_orderkey == F.col("ok"),
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        winners.groupBy("l_suppkey")
        .agg(F.sum("late_lines").alias("numwait"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("s_name", "numwait")
        .transform(ordered_result, F.desc("numwait"), "s_name")
    )


SALT_BUCKETS = 8  # reducers a hot join key is spread across


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant fact-fact join via explicit key salting — the
    manual form of what AQE skew-split does at runtime, written out so
    the pattern is testable: the probe side (lineitem) gets a
    deterministic per-row salt in ``[0, SALT_BUCKETS)``, the build side
    (orders) is replicated once per salt value, and the join key becomes
    ``(o_orderkey, salt)``. Every lineitem row still matches exactly one
    replica of its order, so the result is IDENTICAL to the unsalted
    join (the oracle runs the plain join) — but a hot orderkey's rows
    now hash to SALT_BUCKETS different reducers instead of one.

    Scale posture (100 TB): replication multiplies the build side by
    SALT_BUCKETS — you salt the FACT side and replicate the smaller
    side, and you do it only for keys AQE can't already split (e.g. a
    skewed aggregation feeding a join). The salt is
    ``pmod(xxhash64(key, linenumber), S)`` — deterministic, no RNG, so
    retried tasks produce identical output (speculative execution
    safe). Everything stays whole-stage-codegen column algebra.

    Memory bound: the ShuffledHashJoin builds each task's hash relation
    from the replicated orders side entirely in memory and does not
    spill, so one task holds about ``|orders| x SALT_BUCKETS / P`` rows
    (orders keys are unique, so there is no build-side skew). With AQE
    on, P is the coalesced partition count, which aims each partition
    at ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` of shuffle
    data (64 MB by default); with AQE off it is
    ``spark.sql.shuffle.partitions``, which must then grow with SF
    (sf1000: 1.5e9 orders x 8 / 2000 partitions = 6M build rows per
    task).
    """
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.col("l_orderkey"), F.col("l_linenumber")), F.lit(SALT_BUCKETS)),
    )
    # r15: hint the replicated side SHUFFLE_HASH. Salting only does
    # anything under a SHUFFLE join — the salt spreads a hot key across
    # reducers; a broadcast join has no reducers to spread. At fixture
    # SF the planner's size estimate put the 8x-replicated orders side
    # under the broadcast threshold, so the executed plan broadcast
    # 1.2M built rows (a ~0.8s single-threaded driver build + a probe
    # at scan parallelism) and the demonstrated pattern was inert. The
    # hint makes the query EXECUTE what it documents at every scale —
    # both sides hash-shuffle on (key, salt), the replicated dim side
    # is the per-partition build (guide §3.1's shuffled-hash case:
    # build = orders x SALT_BUCKETS / shuffle.partitions per task) —
    # and it is 2.3x faster at sf0.1 (2.31/1.80 -> 0.89/0.71s same
    # window, identical rows).
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)))
    ).hint("shuffle_hash")
    revenue = F.sum(
        _dec(F.col("l_extendedprice"))
        * (F.lit(1).cast("decimal(18,2)") - _dec(F.col("l_discount")))
    )
    return (
        li.join(
            orders,
            (li.l_orderkey == orders.o_orderkey)
            & (li["__salt"] == orders["__salt"].cast("long")),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            revenue.cast("double").alias("revenue"),
        )
        .transform(ordered_result, "o_orderpriority")
    )


BUCKETS = 16  # bucket count for the co-located join tables
_BUCKET_TABLES: dict[str, bool] = {}  # sf_dir -> tables created


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pre-partitioned fact-fact join — the SHUFFLE-FREE join
    strategy for repeated big joins: orders and lineitem are written
    ONCE as managed tables bucketed AND sorted by the join key
    (``bucketBy(16, orderkey).sortBy``); every later join on that key
    reads co-located buckets and compiles to a SortMergeJoin with ZERO
    Exchange on either side (asserted by the plan-shape test). At
    100 TB this is the difference between re-shuffling both fact
    tables on every pipeline run and paying the shuffle once at
    ingest: bucket joins are the batch analog of co-partitioned Kafka
    topics, and the table write doubles as the engine's bucketed-sink
    pattern. The join is hinted ``merge`` so the demonstration cannot
    silently degrade to a broadcast at test SF.

    Results are IDENTICAL to the plain join — the oracle runs it
    directly against the parquet files."""
    import os as _os

    # table names carry the PID: concurrent engine processes (pytest +
    # bench + audit on one box) share ./spark-warehouse, and a second
    # process DROP+recreating the same managed table yanks the parquet
    # files out from under the first's cached relation
    # (FAILED_READ_FILE mid-scan). Per-process names make the ingest
    # private; the stale-location cleanup below handles PID reuse.
    tag = (
        sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
        + f"_{_os.getpid()}"
    )
    t_orders, t_lineitem = f"b_orders_{tag}", f"b_lineitem_{tag}"
    if sf_dir not in _BUCKET_TABLES:
        # one-time bucketed ingest (session-scoped managed tables).
        # A PREVIOUS session's warehouse directory may survive while
        # the metastore entry didn't — drop both before writing, or
        # saveAsTable refuses with LOCATION_ALREADY_EXISTS.
        import os
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
        for t in (t_orders, t_lineitem):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            if wh:
                shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
        # opportunistic GC of dead processes' per-PID ingest dirs (a
        # day old is safely past any live session on this box)
        if wh and os.path.isdir(wh):
            import time as _time

            cutoff = _time.time() - 86400
            for d in os.listdir(wh):
                full = os.path.join(wh, d)
                if (
                    d.startswith(("b_orders_", "b_lineitem_"))
                    and not d.endswith(f"_{_os.getpid()}")
                ):
                    try:
                        if os.path.getmtime(full) < cutoff:
                            shutil.rmtree(full, ignore_errors=True)
                    except OSError:
                        pass
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ).write.bucketBy(BUCKETS, "o_orderkey").sortBy("o_orderkey").mode(
            "overwrite"
        ).saveAsTable(t_orders)
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ).write.bucketBy(BUCKETS, "l_orderkey").sortBy("l_orderkey").mode(
            "overwrite"
        ).saveAsTable(t_lineitem)
        _BUCKET_TABLES[sf_dir] = True
    li = spark.table(t_lineitem)
    orders = spark.table(t_orders)
    revenue = F.sum(
        _dec(F.col("l_extendedprice"))
        * (F.lit(1).cast("decimal(18,2)") - _dec(F.col("l_discount")))
    )
    return (
        li.hint("merge")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            revenue.cast("double").alias("revenue"),
        )
        .transform(ordered_result, "o_orderpriority")
    )


BLOOM_RF_MIN_M = 1 << 18  # floor: 32 KiB of driver state
BLOOM_RF_MAX_M = 1 << 24  # cap: 2 MiB literal shipped to executors
BLOOM_RF_BITS_PER_KEY = 8  # ~3% fp at K=4 (standard m/n=8 operating point)
BLOOM_RF_K = 4  # hash probes


def bloom_runtime_filter(build_df: DataFrame, key: str):
    """Build a Bloom filter over ``build_df[key]`` and return a
    ``Column -> Column`` membership predicate for the probe side.

    ``m`` is sized from the BUILD-SIDE distinct key count at ~8
    bits/key (rounded up to a power of two, floored at 32 KiB, capped
    at 2 MiB) — a fixed m saturates once keys outgrow it (fill→1,
    fp→1) and then prunes nothing while still paying K probes per
    probe row (ADVICE r6: the old fixed 2^18 saturated past ~30k
    keys, i.e. around sf1). The count is one scalar driver job on the
    already-filtered build side — the same side the vector itself is
    collected from. Past the cap the filter degrades gracefully
    (higher fp, never false negatives); at that point the build side
    is no longer "small" and runtime filtering stops being the right
    plan anyway.

    The bit vector travels through the driver as ``m/64`` int64 words
    (the same state Spark's own ``InjectRuntimeFilter`` coordinates)
    and ships to executors as ONE ARRAY<BIGINT> literal; the probe is
    ``getbit(element_at(words, pos div 64), pos % 64)`` — pure column
    algebra, K probes per row (see the note in ``might_contain`` on
    how it is evaluated).

    History (round 7): the original probe read a HEX-STRING literal
    with substr+conv. At m=2^18 that literal is 65,536+ chars — past
    the JVM's 64 KB string-constant limit — so codegen fell back to
    interpreted evaluation and the probe ran ~75 µs/row (170+ s over
    sf0.1 lineitem, the slowest query in the suite by 40×). An array
    literal is an object reference in generated code, not a string
    constant, so the same predicate stays codegen'd: measured 2.4 s
    for 2.4M-row × K=4 probing cold, incl. codegen.

    May return false positives (rate ~``fill^K``) — callers must
    follow with the exact join; never false negatives.
    """
    # ONE scan of the build side: the distinct key relation feeds both
    # the sizing count and the bit-vector aggregation (r14 — the count
    # and the build each re-scanned the filtered build side; the
    # distinct set is the part both need, and it is checkpoint-sized by
    # construction). Bits from distinct keys equal bits from raw keys:
    # OR-ing a key's positions twice is idempotent.
    keys = barrier(build_df.select(key).distinct())
    n_keys = keys.count()
    m = BLOOM_RF_MIN_M
    while m < min(BLOOM_RF_MAX_M, n_keys * BLOOM_RF_BITS_PER_KEY):
        m *= 2
    seeds = F.array(*[F.lit(j) for j in range(BLOOM_RF_K)])
    pos = F.pmod(F.xxhash64(F.col(key), F.col("seed")), F.lit(m))
    rows = (
        keys.select(key, F.explode(seeds).alias("seed"))
        .select(
            (pos / 64).cast("int").alias("word_idx"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("bigint"),
                F.pmod(pos, F.lit(64)).cast("int"),
            ).alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    words = [0] * (m // 64)
    for r in rows:
        words[r["word_idx"]] = r["word"]
    # ONE parsed expression for the word array: ``F.lit(list)`` builds
    # the literal element-by-element over py4j — 4,100+ gateway round
    # trips ≈ 2.5s for a 2 MiB filter (r14 profile). The SQL parser
    # constructs the identical ARRAY<BIGINT> literal in a single call.
    arr_lit = F.expr(
        "array(" + ",".join(f"{w}L" for w in words) + ")"
    )

    def might_contain(probe_key):
        # Bind the word array ONCE via the 1-element-array lambda
        # capture (the word_grams trick, r15): the K=4 probe terms each
        # referenced ``arr_lit`` directly, so the (up to 256k-element)
        # literal subtree appeared FOUR times in the filter expression
        # and every analyzer/optimizer pass re-walked all four copies —
        # measured as a ~0.6s zero-job driver gap between the vector
        # collect and the probe job. With the capture, the literal is
        # one subtree and the probes reference the lambda variable.
        # Identical probe semantics: same xxhash64/pmod positions, same
        # getbit word/bit test. NOT the same evaluation: ``transform``
        # is a higher-order function (CodegenFallback), so
        # ``explain("codegen")`` shows the probing Filter outside
        # WholeStageCodegen (no ``*(n)`` marker; the scan under it
        # becomes its own ColumnarToRow stage) and the transform
        # subtree runs through its interpreted ``eval`` per row.
        def probe(ws):
            out = None
            for j in range(BLOOM_RF_K):
                p = F.pmod(F.xxhash64(probe_key, F.lit(j)), F.lit(m))
                word = F.get(ws, (p / 64).cast("int"))
                t = (
                    F.call_function(
                        "getbit", word, F.pmod(p, F.lit(64)).cast("int")
                    )
                    == 1
                )
                out = t if out is None else (out & t)
            return out

        return F.transform(F.array(arr_lit), lambda ws: probe(ws))[0]

    return might_contain


def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning — the manual form of Spark's
    ``InjectRuntimeFilter``/DPP: build a Bloom filter over the join keys
    that survive the build-side predicate (URGENT orders in a date
    range), ship it to the probe side as ONE string literal, and drop
    probe rows whose key cannot match BEFORE the shuffle join. False
    positives pass the filter but are removed by the exact join that
    follows, so the result is IDENTICAL to the plain join (the oracle
    runs the plain join) — the filter only saves shuffle volume.

    Scale posture (100 TB): driver state is the bit vector itself —
    sized at ~8 bits per distinct build key (32 KiB floor, 2 MiB cap;
    see ``bloom_runtime_filter``), exactly the state Spark's own bloom
    runtime filter moves through the driver. The probe is pure column
    algebra (hex-substring + conv + bit test, K=4 probes) inside
    WholeStageCodegen — no UDF, no per-row Python. At fill fraction p
    the probe passes ``p^K`` of non-matching rows.
    """
    orders_f = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    might_contain = bloom_runtime_filter(orders_f, "o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        might_contain(F.col("l_orderkey"))
    )
    revenue = F.sum(
        _dec(F.col("l_extendedprice"))
        * (F.lit(1).cast("decimal(18,2)") - _dec(F.col("l_discount")))
    )
    return (
        li.join(orders_f, li.l_orderkey == orders_f.o_orderkey)
        .groupBy(F.month("o_orderdate").cast("bigint").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            revenue.cast("double").alias("revenue"),
        )
        .transform(ordered_result, "order_month")
    )


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q_user_sessions": q_user_sessions,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_nation_volume": q7_nation_volume,
    "q12_priority_by_status": q12_priority_by_status,
    "q13_order_count_distribution": q13_order_count_distribution,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_orders": q18_large_orders,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q22_idle_customers": q22_idle_customers,
    "q_value_percentiles": q_value_percentiles,
    "q_value_histogram": q_value_histogram,
    "q_value_outliers": q_value_outliers,
    "q14_promo_revenue": q14_promo_revenue,
    "q16_part_supplier_counts": q16_part_supplier_counts,
    "q8_market_share": q8_market_share,
    "q15_top_supplier": q15_top_supplier,
    "q_props_json_stats": q_props_json_stats,
    "q_user_retention": q_user_retention,
    "q20_part_share_suppliers": q20_part_share_suppliers,
    "q_user_event_gaps": q_user_event_gaps,
    "q9_product_profit": q9_product_profit,
    "q10_returned_items": q10_returned_items,
    "q_rollup_region_nation": q_rollup_region_nation,
    "q_orders_antijoin": q_orders_antijoin,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_revenue": q5_region_revenue,
    "q_brand_revenue": q_brand_revenue,
    "q_order_priority": q_order_priority,
    "q_customer_orders_topn": q_customer_orders_topn,
    "q_events_by_type": q_events_by_type,
    "q_events_hourly": q_events_hourly,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q11_important_parts": q11_important_parts,
    "q21_waiting_suppliers": q21_waiting_suppliers,
    "q_skew_salted_join": q_skew_salted_join,
    "q_bloom_prune_join": q_bloom_prune_join,
    "q_bucketed_join": q_bucketed_join,
}

ORACLES = {
    "q2_min_cost_supplier": """
        WITH region_supp AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'),
        small_parts AS (
            SELECT p_partkey, p_name FROM part
            WHERE p_type = 'STANDARD' AND p_size <= 10),
        offers AS (
            SELECT l_partkey, l_suppkey,
                   min(l_extendedprice / l_quantity) AS unit_cost
            FROM lineitem
            JOIN small_parts ON l_partkey = p_partkey
            JOIN region_supp ON l_suppkey = s_suppkey
            GROUP BY 1, 2)
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_cost
        FROM offers
        JOIN region_supp ON l_suppkey = s_suppkey
        JOIN small_parts ON l_partkey = p_partkey
        WHERE unit_cost = (
            SELECT min(o2.unit_cost) FROM offers o2
            WHERE o2.l_partkey = offers.l_partkey)
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    """,
    "q11_important_parts": """
        WITH per_part AS (
            SELECT l_partkey,
                   sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS value_dec
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
            GROUP BY 1)
        SELECT l_partkey AS p_partkey, CAST(value_dec AS DOUBLE) AS value
        FROM per_part
        WHERE value_dec > CAST(0.001 AS DECIMAL(4,3)) * (
            SELECT sum(value_dec) FROM per_part)
        ORDER BY value DESC, p_partkey
    """,
    "q21_waiting_suppliers": """
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
    """,
    "q7_nation_volume": """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS volume
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3
        ORDER BY supp_nation, cust_nation, l_year
    """,
    "q12_priority_by_status": """
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY 1
    """,
    "q13_order_count_distribution": """
        SELECT c_count, count(*) AS custdist FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey)
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "q17_small_quantity_revenue": """
        WITH avg_by_part AS (
            SELECT l_partkey AS p_key,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS avg_qty
            FROM lineitem GROUP BY 1)
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN avg_by_part ON l_partkey = p_key
        WHERE l_quantity < 0.5 * avg_qty
    """,
    "q18_large_orders": """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, total_qty FROM (
            SELECT l_orderkey,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
            FROM lineitem GROUP BY 1
            HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 120) big
        JOIN orders ON o_orderkey = big.l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY total_qty DESC, o_orderkey ASC
        LIMIT 25
    """,
    "q19_disjunctive_revenue": """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 30)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 5 AND 40)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 10 AND 50)
    """,
    "q22_idle_customers": """
        WITH avg_bal AS (
            SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS avg_bal
            FROM customer WHERE c_acctbal > 0)
        SELECT c_mktsegment,
               count(*) AS n_custs,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        FROM customer, avg_bal
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        GROUP BY 1 ORDER BY 1
    """,
    "q_value_percentiles": """
        SELECT event_type,
               quantile_cont(value, 0.25) AS p25,
               quantile_cont(value, 0.5) AS p50,
               quantile_cont(value, 0.75) AS p75
        FROM events GROUP BY 1 ORDER BY 1
    """,
    "q_value_outliers": f"""
        WITH s AS (
            SELECT event_type,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
                   CAST(sum(CAST(value AS DECIMAL(18,2))
                            * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sq
            FROM events GROUP BY event_type),
        st AS (
            SELECT event_type, n, sv / n AS mean,
                   sqrt((sq - sv * sv / n) / (n - 1)) AS sd
            FROM s),
        z AS (
            SELECT e.event_id, e.event_type,
                   CAST(e.value AS DOUBLE) AS value,
                   round((CAST(e.value AS DOUBLE) - st.mean) / st.sd, 6)
                       AS z_score
            FROM events e JOIN st USING (event_type))
        SELECT event_id, event_type, value, z_score
        FROM z
        WHERE abs(z_score) > {OUTLIER_Z}
        ORDER BY event_id
    """,
    "q_value_histogram": """
        SELECT least(greatest(CAST(floor(value / 20.0) AS INT) + 1, 0), 11) AS bucket,
               count(*) AS n
        FROM events GROUP BY 1 ORDER BY 1
    """,
    "q14_promo_revenue": """
        SELECT 100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                   THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                   ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS promo_revenue_pct,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
    "q8_market_share": """
        WITH cust_in_region AS (
            SELECT c_custkey
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'),
        supp_nation AS (
            SELECT s_suppkey, n_name AS supp_nation
            FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN cust_in_region ON o_custkey = c_custkey
        JOIN supp_nation ON l_suppkey = s_suppkey
        WHERE p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY 1 ORDER BY 1
    """,
    "q15_top_supplier": """
        WITH rev AS (
            SELECT l_suppkey,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY 1)
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        ORDER BY s_suppkey
    """,
    "q_props_json_stats": """
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
               / CAST(count(json_extract_string(props, '$.k')) AS DOUBLE) AS avg_k
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "q_user_retention": """
        WITH active AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        SELECT CAST(a.day AS TIMESTAMP) AS day,
               count(*) AS active_users,
               count(b.user_id) AS retained_next_day
        FROM active a
        LEFT JOIN active b
          ON b.user_id = a.user_id AND b.day = a.day + 1
        GROUP BY a.day ORDER BY a.day
    """,
    "q16_part_supplier_counts": """
        SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_size <= 25
        GROUP BY 1, 2
        ORDER BY supplier_cnt DESC, p_brand ASC, p_size ASC
        LIMIT 40
    """,
    "q20_part_share_suppliers": """
        WITH f AS (
            SELECT * FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
        per_ps AS (
            SELECT l_partkey, l_suppkey,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq
            FROM f GROUP BY 1, 2),
        per_p AS (
            SELECT l_partkey AS pk,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS pq
            FROM f GROUP BY 1)
        SELECT s_suppkey, s_name FROM supplier
        WHERE EXISTS (
            SELECT 1 FROM per_ps JOIN per_p ON l_partkey = pk
            WHERE l_suppkey = s_suppkey AND sq > 0.5 * pq)
        ORDER BY s_suppkey
    """,
    "q_user_sessions": """
        WITH o AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (
            SELECT user_id, ts,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM o)
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events
        FROM s GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
    "q_user_event_gaps": """
        SELECT user_id, count(*) AS n_gaps,
               min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us,
               CAST(sum(gap_us) AS BIGINT) AS total_gap_us
        FROM (
            SELECT user_id,
                   epoch_us(ts)
                     - lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
            FROM events)
        WHERE gap_us IS NOT NULL
        GROUP BY user_id ORDER BY user_id
    """,
    "q6_forecast_revenue": """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.02 AND 0.04
          AND l_quantity < 24
    """,
    "q9_product_profit": """
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%a%'
        GROUP BY 1, 2
        ORDER BY nation, o_year DESC
    """,
    "q10_returned_items": """
        SELECT c_custkey, c_name, n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "q_rollup_region_nation": """
        SELECT r_name, n_name,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST
    """,
    "q_orders_antijoin": """
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        ORDER BY o_orderkey
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    "q5_region_revenue": """
        SELECT n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name ASC
    """,
    "q_brand_revenue": """
        SELECT p_brand,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
        ORDER BY p_brand
    """,
    "q_order_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
        )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q_customer_orders_topn": """
        SELECT o_custkey, o_orderkey, totalprice, rn FROM (
            SELECT o_custkey, o_orderkey, o_totalprice AS totalprice,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC
                   ) AS rn
            FROM orders
        ) WHERE rn <= 2
    """,
    "q_events_by_type": """
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
               CAST(min(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_value,
               CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "q_events_hourly": """
        SELECT date_trunc('hour', ts) AS hour, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY hour, event_type
    """,
    # the salted join is result-identical to the plain join — the salt
    # only changes the physical shuffle layout, so the oracle IS the
    # unsalted query
    "q_skew_salted_join": """
        SELECT o_orderpriority,
               count(*) AS n_items,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2))
                           - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    # bucketing only changes the physical layout (pre-shuffled on
    # disk) — the oracle is the plain join over the same parquet
    "q_bucketed_join": """
        SELECT o_orderpriority,
               count(*) AS n_items,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2))
                           - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    # bloom false positives are removed by the exact join that follows,
    # so the runtime-filtered plan is result-identical to the plain join
    "q_bloom_prune_join": """
        SELECT CAST(month(o_orderdate) AS BIGINT) AS order_month,
               count(*) AS n_items,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2))
                           - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY 1
        ORDER BY order_month
    """,
}
