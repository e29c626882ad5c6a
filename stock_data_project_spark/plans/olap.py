"""TPC-H shapes and warehouse SQL: the reference's DuckDB-SQL stage
generalized.

The reference's schema-build step is fundamentally "joins + group-bys
+ window derivations over fact rows" (fetch_stocks.py:221-241); this
module carries that OLAP surface on the TPC-H-ish tables so the same
engine covers classic warehouse queries: multi-way joins, selective
scans, top-k, pivot, rollup and grouping sets, semi/anti joins,
sessionization, windowed time aggregation, slowly-changing
dimensions, as-of and range joins, mergeable sketches and cohort/RFM
customer analytics. Data-quality gates and distribution/hypothesis
tests live in ``plans/audits.py``; the co-purchase/co-activity graph
and pair mining in ``plans/graph.py``.

Scale notes per plan are in each docstring; the common rules:
dimension sides of joins are broadcast, aggregations are expressed so
map-side partial aggregation applies, filters sit directly on the
scan so Catalyst pushes them into parquet, scalar thresholds are tiny
cross joins (never collected).

TPC-H
-----
All 22 TPC-H shapes. The slimmed testdata has no partsupp table and
no commit/receipt dates, so q2/q9/q11/q16/q20/q21 (like q12/q17) are
SHAPE adaptations — same plan topology, surrogate predicates.

- ``tpch_q18`` — large-volume customers: big-quantity orders found by
  ONE lineitem aggregate, then joined back — the HAVING subquery
  becomes a pre-aggregated semi-side that is tiny by construction
  (rare orders), so both joins broadcast at any scale. The aggregate
  core ``big_quantity_orders`` is shared with ``big_orders``.

Grouping shapes
---------------
- ``grouping_sets_sales`` — explicit GROUPING SETS with grouping()
  flags (ROLLUP/CUBE are separate keys; arbitrary set lists are this
  one);
- ``revenue_share`` — ratio-to-report: each nation's share of its
  region's revenue via a window over the aggregate;
- ``monthly_running_revenue`` — running cumulative over a calendar
  aggregate per segment (the dashboard "revenue to date" curve).

Warehouse maintenance
---------------------
- ``scd2_dim`` — type-2 slowly-changing dimension build: collapse
  each user's consecutive same-tier events into validity intervals
  via gaps-and-islands (lag → change flag → running island id), all
  inside ONE hash partition by user (the two-row_number island idiom
  would force a second (user, tier) exchange). valid_to chains to
  the next version's valid_from; the current version is NULL-open.
- ``scd2_asof`` — the point-in-time join that makes SCD2 useful:
  facts (purchases) joined to the dimension version valid AT their
  timestamp. Because SCD2 intervals are contiguous per key by
  construction, "valid_from <= ts < valid_to" reduces to a backward
  as-of join on valid_from — operators/asof.py, one union+window
  pass, no range explosion, no unboundedFollowing frames.
- ``session_concurrency`` — interval-overlap aggregation: how many
  30-min-gap sessions overlap each hour. The sweep-line global
  running sum would need a single-partition prefix; bucketizing
  instead (each session explodes to its covered hours, count per
  hour) keeps it one uniform-key shuffle — the same
  bucket-decomposition as operators/rangejoin.py, with explode
  factor bounded by session duration.

Sketches
--------
``quantile_rollup`` and ``conversion_lag`` sketch their values into
per-(key, bin) equi-width histograms and finish with the shared
deterministic estimator ``operators/sketches.histogram_quantiles``
(the streaming ``stream_quantile`` runs the same one).

- ``conversion_lag`` — order-to-shipment conversion lag percentiles:
  lag = calendar days from ``o_orderdate`` to each lineitem's
  ``l_shipdate``, sketched per ``o_orderpriority``, with the
  grand-total rollup merged from the per-priority sketches by
  bin-count summation (no fact rescan). Scale shape: the
  lineitem⋈orders join shuffles both sides on orderkey — at 100 TB
  the tables are bucketed/co-partitioned on orderkey
  (sources/writers.write_bucketed) so the join is exchange-free;
  neither side is broadcastable. After the join the fact collapses
  map-side to ≤ priorities × 512 sketch rows; the percentile tail
  touches kilobytes. Fully oracled: the estimator is deterministic
  arithmetic (floor-binning, cumulative counts, linear
  interpolation), reproduced verbatim in DuckDB, exactly like
  quantile_rollup's oracle.

Skew
----
- ``skew_salted_revenue`` — the skew REPORT drives the MITIGATION.
  The probe side's per-key fanout profile (skew_report's
  TakeOrderedAndProject shape) picks the top-K hottest join keys;
  hot rows go through operators/skew.salted_join (build rows for
  those keys replicated salt ways, probe rows scattered), cold rows
  take the plain join; the union aggregates to revenue per (segment,
  priority). The oracle is the PLAIN join — salting and the hot/cold
  split must be invisible in the result, which is exactly the
  property a driver row should pin. At 100 TB the report is one
  map-side-combined groupBy + a K-row driver collect
  (metadata-sized decision), and each hot key's shuffle spreads over
  ``salt`` tasks instead of one straggler.

Customer analytics
------------------
- ``cohort_ltv`` — cohort revenue analysis: customers bucketed by
  first-order month, revenue tracked by months-since-cohort. Two
  shuffles (first-order agg on custkey, cohort-cell agg on a few
  hundred keys); the custkey join reuses the first agg's
  partitioning.
- ``order_gap_stats`` — per-customer reorder cadence: days between
  consecutive orders (lag over (custkey, orderdate, orderkey) — the
  uniform-key window, millions of partitions, never few), rolled up
  per market segment with exact avg/median/max. Median is
  percentile-interpolated identically on both engines; floats
  rounded 6dp per the parity rule.
- ``rfm_segmentation`` — recency/frequency/monetary customer scoring:
  three exact ntile(5) scores over the customer-level RFM frame,
  grouped to a segment matrix. Every ntile is the DISTRIBUTED exact
  rank (operators/rank.distributed_ntile — range exchange + offset
  join), never a single-partition window, so the same plan holds on
  a 1.5B-row customer dim. Monetary sums aggregate in DECIMAL(18,6)
  so the segment averages are summation-order-free (the q9 rule).
- ``pareto_revenue`` — revenue concentration per nation: how many of
  the top customers cover 80% of nation revenue. The running share
  is a DECIMAL cumulative sum over a (revenue DESC, custkey) total
  order, and the 80% test is `cum·5 ≥ total·4` — an EXACT decimal
  comparison with zero float risk. The nation total comes from a
  groupBy joined back broadcast (25 rows), never a full-partition
  window frame (frames ending at unboundedFollowing rescan the
  partition per row — CLAUDE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stock_data_project_spark.catalog import load_table, register_views
from stock_data_project_spark.operators.asof import asof_join
from stock_data_project_spark.operators.bloom import (
    bloom_build,
    bloom_might_contain,
    bloom_positions_sql,
)
from stock_data_project_spark.operators.cdc import snapshot_diff
from stock_data_project_spark.operators.rangejoin import range_join
from stock_data_project_spark.operators.rank import distributed_ntile
from stock_data_project_spark.operators.rounding import exact_avg6_expr, exact_avg6_sql
from stock_data_project_spark.operators.scd2 import scd2_build
from stock_data_project_spark.operators.series import daily_bars
from stock_data_project_spark.operators.sketches import (
    HISTOGRAM_BINS,
    HISTOGRAM_PS,
    histogram_quantiles,
)
from stock_data_project_spark.operators.skew import salted_join
from stock_data_project_spark.operators.textops import words


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary (TPC-H Q1 shape): scan -> partial agg ->
    4-group shuffle. The heaviest-scan/lightest-shuffle archetype."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority (Q3 shape, minus o_shippriority which the
    testdata lacks): customer ⋈ orders ⋈ lineitem, top-10 revenue.
    customer is the small side -> broadcast; the orders⋈lineitem join
    shuffles on orderkey only."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15"))
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-03-15"))
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(revenue, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local supplier volume (Q5 shape): 6-way join with the region
    filter pushed to the 5-row region scan; all dimension chains
    (region->nation->{customer,supplier}) broadcast so the only big
    shuffle is lineitem⋈orders."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast revenue (Q6 shape): the pure pushdown archetype — all
    three predicates reach the parquet scan; single global agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping between two nations (Q7 shape): both direction
    pairs, yearly. The nation dim joins twice (supplier side and
    customer side) — both broadcast."""
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
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        F.col("supp_nation") == "NATION_2"
    ) & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("volume"))
    )


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking (Q4 shape): orders in a quarter having
    at least one lineitem (EXISTS/semi join), counted per priority."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01")) & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by order revenue per nation: window row_number
    over a pre-aggregated (thus small) frame."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    per_cust = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_nationkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("total_spent"), F.asc("c_custkey"))
    return (
        per_cust.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .select(F.col("n_name").alias("nation"), "c_custkey", "c_name", "total_spent", "rank")
    )


def q_pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot l_linestatus into columns (FILTER-style conditional aggs
    — same plan Spark's .pivot() produces, but with deterministic
    column names for the oracle)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0.0)), 2).alias("qty_open"),
        F.round(F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0.0)), 2).alias("qty_filled"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (nation, order-year) over order revenue — the cube-style
    summary the reference's dashboard implies. Spark rollup == SQL
    GROUP BY ROLLUP; grand-total and subtotal rows carry NULLs."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("order_year"), "o_totalprice")
    )
    return joined.rollup("nation", "order_year").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers that never ordered."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def q_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join: customers with ≥1 urgent order (EXISTS shape)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


def q_distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expands to a two-phase agg in the
    plan — fine because keys are bounded per supplier)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates (HLL + quantile-sketch): the scale path for
    distincts/quantiles at 100 TB. Approximate by design -> rows-only
    correctness check (no DuckDB oracle).

    Quantiles come out as scalar p50/p95/p99 columns (one shared
    quantile sketch per column internally; the driver's canonicalizer
    cannot hash ARRAY-typed cells, r2 finding)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5).alias("p50"),
        F.percentile_approx("l_extendedprice", 0.95).alias("p95"),
        F.percentile_approx("l_extendedprice", 0.99).alias("p99"),
    )


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority classes (Q12 shape: fact-dim join +
    conditional agg over a selective date scan). The testdata has no
    l_shipmode/l_commitdate, so the group key is the order->ship
    delay class and the date filter sits on l_shipdate — same plan
    shape: pushed scan filter, one join, two CASE aggregates."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    o = load_table(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    delay_class = (
        F.when(delay < 30, "fast").when(delay < 60, "medium").otherwise("slow")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(delay_class.alias("delay_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (Q13): LEFT join so
    zero-order customers land in the c_count=0 bin, then a histogram
    of counts. The original's comment NOT LIKE filter becomes a
    priority exclusion (no o_comment column in the testdata)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "3-MEDIUM"
    )
    per_c = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_c.groupBy(F.col("c_count").cast("int").alias("c_count")).agg(
        F.count(F.lit(1)).alias("custdist")
    )


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (Q17 shape): the correlated
    per-part AVG subquery re-expressed as an aggregate joined back to
    the fact — Catalyst/AQE picks broadcast when the per-part
    aggregate is small; at catalog scale it degrades gracefully to a
    shuffle join on the same key. (No p_container in the testdata;
    the brand predicate alone plays the selective dim filter.)"""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_q = li.groupBy(F.col("l_partkey").alias("aq_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_q, li.l_partkey == avg_q.aq_partkey)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) per user: lag ->
    gap flag -> running sum = session id -> per-session rollup. Two
    windows over one hash partition by user_id, then one groupBy that
    reuses the same key prefix."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = F.when(us - F.lag(us).over(w) > 1800 * 1_000_000, 1).otherwise(0)
    sess = (
        ev.withColumn("new_session", gap)
        .withColumn("session_seq", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 6).alias("session_value"),
    )


def q_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window counts/sums per event_type — the batch
    twin of the streaming pipeline (streaming/pipeline.py); F.window
    works identically on bounded input."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue (Q19 shape): disjunction of conjunctive
    brand/quantity predicates — the filter-pushdown stress case (the
    OR-of-ANDs must still prune at the scan via the part join)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 40))
    )
    return joined.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sales opportunity (Q22 shape): wealthy customers (above
    the positive-balance average, scalar subquery) who never ordered
    (anti join), grouped by segment."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    # scalar threshold as a broadcast 1-row frame (stays lazy; no
    # driver-side collect)
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("_ab"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_ab"))
        .drop("_ab")
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users whose first view precedes their first
    click precedes their first purchase — one conditional min-ts agg
    per stage, a single groupBy (no joins, no window)."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    return (
        firsts.filter(
            F.col("t_view").isNotNull()
            & F.col("t_click").isNotNull()
            & F.col("t_buy").isNotNull()
            & (F.col("t_view") < F.col("t_click"))
            & (F.col("t_click") < F.col("t_buy"))
        )
        .select("user_id", "t_view", "t_click", "t_buy")
    )


def q_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: per first-active week, how many users come
    back in each later week (distinct user-week pairs self-joined on
    cohort)."""
    ev = load_table(spark, sf_dir, "events")
    user_weeks = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    cohorts = user_weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        user_weeks.join(cohorts, "user_id")
        .groupBy("cohort_week", "week")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


def q_active_customer_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: event user-ids INTERSECT order customer keys
    (who is both active and buying), one row per id."""
    ev = load_table(spark, sf_dir, "events").select(F.col("user_id").alias("id"))
    orders = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    return ev.intersect(orders)


def q_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies: lateral explode of document tokens ->
    count -> top-20 (the wordcount archetype, with a deterministic
    tie-break)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(20)
    )


def q_unpivot_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (the inverse of q_pivot_returnflag): melt the OHLC
    columns into (field, value) rows via stack — long-form output
    for charting/ML feature pipelines."""
    bars = daily_bars(load_table(spark, sf_dir, "events"))
    return bars.select(
        "series_key",
        "date",
        F.expr(
            "stack(4, 'open', open, 'high', high, 'low', low, 'close', close) AS (field, value)"
        ),
    )


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per type (bucket =
    floor(value/25)) — the binning primitive behind dashboards'
    distribution panels."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") / 25).cast("long").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE over (segment, status): all four grouping-set
    combinations in one pass."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "c_mktsegment", "o_orderstatus", "o_totalprice"
    )
    return joined.cube("c_mktsegment", "o_orderstatus").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-quantity orders (TPC-H Q18 shape): HAVING over a grouped
    fact, then join back for customer attribution. The aggregate core
    is shared with the canonical tpch_q18."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = big_quantity_orders(li, 250, round_dp=2, alias="total_qty")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "l_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


def q_balance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window functions: percent_rank + cume_dist
    of customer balances within each market segment."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


def q_nation_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: the distinct market segments
    present per nation, as one sorted comma-joined string."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias("segments"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


def q_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer account-balance deciles, exact ntile semantics via
    the distributed two-level rank (range exchange + parallel local
    row_number + tiny offset join) — no single-partition window, so
    the same plan holds on a 100 TB fact column. See operators/rank.py."""
    cust = load_table(spark, sf_dir, "customer")
    # the ranged frame inside is localCheckpoint-ed (GC-scoped), so no
    # release bookkeeping and no extra output materialization pass
    return distributed_ntile(
        cust.select("c_custkey", "c_mktsegment", "c_acctbal"),
        buckets=10,
        order_cols=[F.desc("c_acctbal"), F.asc("c_custkey")],
        out_col="balance_decile",
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks up the user's most recent order
    (order date <= event date). Orders are pre-aggregated to one row
    per (custkey, date) so the as-of pick is deterministic."""
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    ord_daily = (
        orders.groupBy(
            F.col("o_custkey").alias("cust"), F.date_trunc("day", F.col("o_orderdate")).alias("odate")
        )
        .agg(F.max_by("o_totalprice", "o_orderkey").alias("last_order_price"))
    )
    ev_dated = ev.select("event_id", "user_id", F.date_trunc("day", F.col("ts")).alias("event_date"))
    return asof_join(
        left=ord_daily,
        right=ev_dated,
        left_key="cust",
        right_key="user_id",
        left_time="odate",
        right_time="event_date",
        value_cols=["last_order_price"],
    ).select(
        "event_id",
        "user_id",
        "event_date",
        F.col("asof_odate").alias("last_order_date"),
        "last_order_price",
    )


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item report (Q10 shape): revenue lost to returns per
    customer, top 20. lineitem⋈orders shuffles on orderkey; customer
    and nation broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion effect (Q14 shape): share of revenue from PROMO
    parts in one month. part broadcast; single agg, no shuffle of
    lineitem beyond the join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1997-02-01"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_revenue_pct")
        )
    )


def q_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: pull the JSON field k out of props and
    aggregate it per event_type (the props column is the reference's
    'extra payload' analog). get_json_object stays JVM-side."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per return flag (Spark
    percentile == DuckDB quantile_cont, both type-7)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("median_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias("p95_price"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
    )


# ------------------------------------------------------------- TPC-H


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-cost supplier per part (Q2 shape): the correlated MIN
    subquery as a per-part aggregate joined back; lineitem unit price
    stands in for the absent partsupp supplycost. Small-part filter
    and EUROPE region decoration keep Q2's selective-dim topology."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    euro_supp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    unit = li.select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    min_unit = unit.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("unit_price").alias("min_unit")
    )
    return (
        unit.join(min_unit, (unit.l_partkey == min_unit.m_partkey)
                  & (unit.unit_price == min_unit.min_unit))
        .join(F.broadcast(part), unit.l_partkey == part.p_partkey)
        .join(F.broadcast(euro_supp), unit.l_suppkey == euro_supp.s_suppkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.round("min_unit", 6).alias("min_unit_price"),
        )
        .distinct()
    )


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (Q8): NATION_5's share of PROMO-part
    revenue sold into the AMERICA market, by order year. Conditional
    sum over one joined fact — one shuffle for the year groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1996, 1997)
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    amer_cust = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey")
    )
    supp_nat = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(amer_cust, orders.o_custkey == amer_cust.c_custkey)
        .join(F.broadcast(supp_nat), li.l_suppkey == supp_nat.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (Q9 shape) by supplier nation × order
    year for widget parts; 10% of retail price × quantity plays the
    absent ps_supplycost. One fact shuffle on (nation, year).

    The profit term subtracts two same-magnitude double sums, which
    put one group exactly on a 2dp rounding boundary at sf0.01 —
    summation order flipped the last cent between engines. The
    aggregation therefore runs in DECIMAL(18,6) on BOTH sides: the
    double→decimal cast is per-value deterministic and decimal
    addition is exact, so the sum is order-independent and the 2dp
    round identical by construction."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    supp_nat = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("nation_name"))

    def dec(c):
        return c.cast("decimal(18,6)")

    amount = dec(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,6)") - dec(F.col("l_discount"))
    ) - F.lit(0.1).cast("decimal(18,6)") * dec(F.col("p_retailprice")) * dec(
        F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp_nat), li.l_suppkey == supp_nat.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("nation_name"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
    )


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important stock (Q11 shape): per-part revenue from ASIA-region
    suppliers, kept where value exceeds a scalar fraction of the
    total — the scalar subquery is a 1-row frame cross-joined in,
    never collected."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_supp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # both the per-part value and the scalar threshold are rounded to
    # the parity grid BEFORE the comparison: the raw sums are
    # summation-order-dependent across engines, and an unrounded
    # strict > at the boundary could flip
    value = (
        li.join(F.broadcast(asia_supp), li.l_suppkey == asia_supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.round(F.sum(vol), 2).alias("part_value"))
    )
    total = value.agg(F.round(F.sum("part_value") * 0.001, 2).alias("threshold"))
    return (
        value.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
    )


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (Q15): suppliers whose 1996-H1 revenue equals the
    maximum. Revenue is rounded to 2dp BEFORE the max comparison on
    both engines, so the equality is exact by the parity rule."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-07-01")
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "total_revenue"
            )
        )
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part/supplier relationship count (Q16 shape): distinct
    suppliers per (brand, type, size) bucket from the fact, excluding
    one brand and the PROMO type — lineitem plays the absent
    partsupp. Distinct agg on a 3-part group key."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-promotion candidates (Q20 shape): nested semi-join chain
    — suppliers who moved more than 50 units of 'small %' parts
    during 1997, decorated with their nation. Each hop is a semi
    join, so no fact row ever fans out."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small %"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    heavy = (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(F.broadcast(part.select("p_partkey")), li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_name", "n_name")
    )


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers-who-kept-others-waiting (Q21 shape): the double
    correlated EXISTS/NOT-EXISTS as order-level aggregates — for
    NATION_3 suppliers, count orders with ≥2 suppliers where this
    supplier's best line strictly out-prices every other supplier's
    (commit/receipt dates are absent, so price order plays the
    lateness predicate). Per-order top-2 via a window ``lead`` over
    the per-supplier maxima, ordered (price desc, supplier desc):
    the r4 shape collected ALL supplier structs per order to take the
    second max — bounded by suppliers-per-order in TPC-H (≤7) but a
    group-sized materialization at a pathological fan-in key; the
    window's running state is O(1) per row and the per_os⋈per_o
    self-join disappears with it (r4 verdict watch-item 1)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_extendedprice").alias("s_max")
    )
    w_rank = Window.partitionBy("l_orderkey").orderBy(
        F.col("s_max").desc(), F.col("l_suppkey").desc()
    )
    w_all = Window.partitionBy("l_orderkey")
    waiting = (
        per_os.select(
            "l_orderkey",
            "l_suppkey",
            "s_max",
            F.row_number().over(w_rank).alias("rn"),
            F.lead("s_max").over(w_rank).alias("second_max"),
            F.count(F.lit(1)).over(w_all).alias("n_supp"),
        )
        .filter(
            (F.col("rn") == 1)
            & (F.col("n_supp") >= 2)
            & (F.col("s_max") > F.col("second_max"))
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    nat_supp = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "s_name")
    return waiting.join(
        F.broadcast(nat_supp), waiting.l_suppkey == nat_supp.s_suppkey
    ).select("s_name", "numwait")


_Q18_MIN_QTY = 300


def big_quantity_orders(
    li: DataFrame, min_qty: float, round_dp: int | None = None, alias: str = "sum_qty"
) -> DataFrame:
    """The Q18 HAVING core — ONE implementation shared by the
    canonical ``tpch_q18`` (threshold 300) and the earlier
    ``big_orders`` key (plans/olap.py, threshold 250, 2dp-rounded
    quantity), so a quantity-semantics change can never fork the two
    (r6 review finding)."""
    agg = F.sum("l_quantity")
    if round_dp is not None:
        agg = F.round(agg, round_dp)
    return (
        li.groupBy("l_orderkey")
        .agg(agg.alias(alias))
        .filter(F.col(alias) > min_qty)
    )


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): orders whose total quantity
    exceeds 300, with customer identity and order revenue. The
    aggregate core is shared with big_orders (its Q18-shape
    predecessor at threshold 250)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = big_quantity_orders(li, _Q18_MIN_QTY)
    # big is the rare-order set (46 rows at sf0.01, ~0.3% of orders at
    # any SF) — broadcast it so the orders scan never shuffles
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
    )


# --------------------------------------------------- grouping shapes


def q_grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue at three explicit granularities in one pass:
    (nation, year), (nation), and grand total. grouping() flags
    disambiguate NULL-as-rolled-up from a genuinely NULL key (the
    reason GROUPING SETS output is machine-consumable where
    coalesce('ALL') strings are not). One shuffle: Spark expands the
    sets map-side and aggregates once."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name,
               order_year,
               CAST(grouping(n_name) AS INT) AS g_nation,
               CAST(grouping(order_year) AS INT) AS g_year,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM (
            SELECT n_name, CAST(year(o_orderdate) AS INT) AS order_year,
                   o_totalprice
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
        )
        GROUP BY GROUPING SETS ((n_name, order_year), (n_name), ())
        """
    )


def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each nation's share of its region's order revenue. The share
    divides ALREADY-ROUNDED 2dp revenues (double summation order
    differs between engines; the rounded aggregate is the stable
    quantity), then rounds once more at 6dp. Dimension chain
    broadcasts onto orders; the window runs over the ~25-row
    aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dims = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    per_nation = (
        orders.join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.partitionBy("r_name")
    return per_nation.select(
        "r_name",
        "n_name",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias("share"),
    )


def q_monthly_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment monthly revenue + running cumulative. The running
    sum adds the rounded monthly aggregates in calendar order —
    order-deterministic on both engines, so no further masking is
    needed beyond the monthly 2dp round."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    monthly = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            "c_mktsegment", F.date_trunc("month", "o_orderdate").alias("month")
        )
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return monthly.withColumn("cum_revenue", F.round(F.sum("revenue").over(w), 2))


def q_range_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch range join (operators/rangejoin.py): clicks attributed
    to same-user views ≤30 min prior — the batch twin of the graded
    ``stream_interval_join`` (identical semantics, so the same oracle
    shape), executed as a bucketized HASH join + exact refine instead
    of a nested loop: the (user, 30-min-bucket) key shuffles each
    side once, no cartesian anywhere in the plan."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("view_user"),
        F.col("ts").alias("view_ts"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("win_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("click_ts"),
    )
    return range_join(
        clicks,
        views,
        point_ts="click_ts",
        start_col="win_start",
        end_col="win_end",
        bucket_width_s=1800,
        extra_keys=[("user_id", "view_user")],
    ).select("view_id", "click_id", "user_id", "view_ts", "click_ts")


def q_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type: parse
    the JSON payload ONCE into a variant, then typed-path extraction
    (``try_variant_get`` — malformed rows degrade to NULL, never an
    ANSI error). vs ``props_extract``'s get_json_object: variant
    parses once per row instead of once per path, and the binary
    encoding is the shredding-ready columnar form — the modern
    semi-structured story at scale."""
    ev = load_table(spark, sf_dir, "events")
    v = F.try_parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"), v.isNull().alias("bad"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.col("bad").cast("bigint")).alias("n_malformed"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-type HLL sketches of the user
    population, re-aggregated to the grand total by sketch UNION —
    no rescan of the fact table. At 100 TB this is THE distinct-count
    pattern: materialize sketches at the finest grain once, answer
    every coarser rollup by merging kilobyte sketches (exact distinct
    cannot re-aggregate: distinct-per-type does not sum to global
    distinct). Rows-only (estimates have no DuckDB twin); accuracy
    (±5%) and union-vs-direct consistency are pinned in
    tests/test_olap.py."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy(F.col("event_type").alias("series_key")).agg(
        F.hll_sketch_agg("user_id").alias("_sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    typed = per_type.select(
        "series_key",
        F.lit(False).alias("is_total"),
        F.hll_sketch_estimate("_sk").alias("approx_users"),
        "n_events",
    )
    # the grand-total marker is a dedicated flag, not a sentinel key
    # value — an event_type literally named "ALL" must stay
    # distinguishable from the rollup row
    total = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("approx_users"),
        F.sum("n_events").alias("n_events"),
    ).select(
        F.lit(None).cast("string").alias("series_key"),
        F.lit(True).alias("is_total"),
        "approx_users",
        "n_events",
    )
    return typed.unionByName(total)


# --------------------------------------------- warehouse maintenance

_GAP_S = 1800


def _scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared implementation: operators/scd2.scd2_build (the same
    runs+merge decomposition the streaming incremental maintainer
    replays — one island implementation, per the repo rule)."""
    return scd2_build(load_table(spark, sf_dir, "events"))


def q_scd2_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scd2(spark, sf_dir)


def q_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup: each purchase fact joined to the tier
    version valid at its timestamp (see module doc for why this is an
    as-of join, not a range join)."""
    # Drop zero-width versions (two same-ts events in different tiers
    # make a version with valid_from == valid_to). They share valid_from
    # with their successor, breaking asof_join's (key, time) uniqueness
    # contract — the carried version would be tie-order-dependent — and
    # the interval semantics (ts < valid_to) can never select them.
    dim = (
        _scd2(spark, sf_dir)
        .filter(F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from")))
        .select("user_id", "valid_from", "tier", "version")
    )
    facts = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value")
    )
    joined = asof_join(
        dim,
        facts,
        left_key="user_id",
        right_key="user_id",
        left_time="valid_from",
        right_time="ts",
        value_cols=["tier", "version"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("asof_valid_from").alias("valid_from"),
        "tier",
        "version",
    )


def q_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions overlapping each hour: sessionize (the graded 30-min
    gap convention), explode each session onto its covered hour
    buckets, count sessions + distinct users per hour."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = F.when(us - F.lag(us).over(w) > _GAP_S * 1_000_000, 1).otherwise(0)
    sess = (
        ev.withColumn("new_session", gap)
        .withColumn(
            "session_seq",
            F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    hour = F.explode(
        F.sequence(
            F.date_trunc("hour", "s_start"),
            F.date_trunc("hour", "s_end"),
            F.expr("interval 1 hour"),
        )
    ).alias("hour_start")
    return (
        sess.select("user_id", hour)
        .groupBy("hour_start")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


def q_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff, graded: "yesterday's" daily-bars rollup
    (events with event_id % 50 != 0 — a 2% late-arriving-data
    simulation) diffed against today's full rollup via
    operators/cdc.snapshot_diff. Days that received late events
    surface as updates; days whose every event was late surface as
    inserts; deletes are structurally impossible here (the old event
    set is a subset) and the oracle proves that by construction.
    The oracle compares value columns DIRECTLY (no hash), so a
     2^-64 row-hash collision on the Spark side would fail parity —
    the check doubles as the collision audit."""
    ev = load_table(spark, sf_dir, "events")
    old = daily_bars(ev.filter(F.col("event_id") % 50 != 0))
    new = daily_bars(ev)
    return snapshot_diff(old, new, ["series_key", "date"])


def q_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key salting machinery graded on result invariance:
    orders ⋈ customer via operators/skew.salted_join (8-way key
    split — build side replicated, probe side hash-salted), rolled up
    to revenue per (segment, priority). The oracle is the PLAIN join:
    salting must be invisible in the result, which is exactly the
    property worth a driver row (at 100 TB the salt spreads one hot
    customer across 8 tasks instead of one straggler)."""
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "custkey"
    )
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "custkey"
    )
    j = salted_join(orders, cust.select("custkey", "c_mktsegment"), "custkey")
    return j.groupBy("c_mktsegment", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------- sketches


def q_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-QUANTILE rollup — the percentile twin of hll_rollup:
    per-type equi-width histogram sketches of ``value``, re-aggregated
    to the grand total by vector-summing bin counts, never rescanning
    the fact table. At 100 TB this is the re-aggregatable-percentile
    pattern: materialize kilobyte histograms at the finest grain once,
    answer every coarser rollup by merging them (exact percentiles
    cannot re-aggregate: a per-type p99 says nothing about the global
    p99). Unlike percentile_approx's opaque internal sketch, the
    histogram estimator is DETERMINISTIC arithmetic — floor-binning,
    cumulative counts, linear interpolation at rank p·n — so this key
    is fully oracled (DuckDB runs the identical estimator), with the
    accuracy-vs-exact bound (≤ one bin width) pinned in
    tests/test_olap.py.

    Plan: one pruned (event_type, value) fact scan partial-aggregated
    map-side to ≤ types × 512 rows; the domain probe (global min/max)
    is a second single-column scan folded in as a broadcast 1-row
    aggregate (the scalar-subquery pattern) — at 100 TB the domain
    comes from table stats instead. Everything after the groupBy
    touches ≤ a few thousand rows."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(F.col("value").isNotNull())
    )
    stats = ev.agg(F.min("value").alias("_lo"), F.max("value").alias("_hi"))
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(HISTOGRAM_BINS))
    # degenerate-domain guard (hi == lo → all values equal): 0/0 is
    # NaN and CAST(NaN AS INT) raises under ANSI mode — degrade to a
    # single bin instead, mirrored in the oracle (r6 review finding)
    bin_of = F.when(
        F.col("_hi") > F.col("_lo"),
        F.least(
            F.floor((F.col("value") - F.col("_lo")) / width).cast("int"),
            F.lit(HISTOGRAM_BINS - 1),
        ),
    ).otherwise(F.lit(0))
    binned = (
        ev.crossJoin(F.broadcast(stats))
        .select(F.col("event_type").alias("series_key"), bin_of.alias("bin"))
        .groupBy("series_key", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return histogram_quantiles(binned, stats)


def q_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_orderpriority").alias("series_key"),
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            .cast("double")
            .alias("value"),
        )
        .filter(F.col("value").isNotNull())
    )
    # Lag is INTEGER days: pre-aggregate exact (key, value) counts —
    # priorities × distinct lag-days rows, a few thousand — so the
    # expensive join+scan runs ONCE and both the domain probe and the
    # binning read the tiny table. Count-weighted binning is exactly
    # count-preserving, so the result (and the oracle) is unchanged.
    # localCheckpoint cuts the plan so the stats branch cannot
    # re-execute the join subplan (the first cut re-ran the 18M-row
    # join for the domain probe: 24.4s at the 30× smoke).
    counts = (
        lag.groupBy("series_key", "value")
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint(eager=True)
    )
    stats = counts.agg(F.min("value").alias("_lo"), F.max("value").alias("_hi"))
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(HISTOGRAM_BINS))
    # same degenerate-domain guard as quantile_rollup (hi == lo →
    # single bin, mirrored in the oracle)
    bin_of = F.when(
        F.col("_hi") > F.col("_lo"),
        F.least(
            F.floor((F.col("value") - F.col("_lo")) / width).cast("int"),
            F.lit(HISTOGRAM_BINS - 1),
        ),
    ).otherwise(F.lit(0))
    binned = (
        counts.crossJoin(F.broadcast(stats))
        .select("series_key", bin_of.alias("bin"), "_n")
        .groupBy("series_key", "bin")
        .agg(F.sum("_n").alias("n"))
    )
    return histogram_quantiles(binned, stats)


# ----------------------------------------------- joins, funnels, skew


def q_funnel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch funnel attribution: each purchase is attributed to
    the same user's most recent click at-or-before it, IF that click
    is within the 7-day lookback; conversions and revenue roll up by
    attribution day, with a NULL-day row collecting the unattributed
    remainder (no click, or the last click is stale).

    Plan shape: the scalable union-and-window as-of join
    (operators/asof.py — one user-key shuffle, no per-group pandas),
    then a day rollup. Clicks are pre-aggregated per (user, ts) so
    the as-of pick is deterministic; NULL users/timestamps are
    filtered identically on both engines (NULL never equi-joins —
    the eqNullSafe parity class)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    clicks = (
        base.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("cts"))
        .agg(F.max("event_id").alias("click_id"))
        .select(F.col("user_id").alias("cuser"), "cts", "click_id")
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(
        left=clicks,
        right=purchases,
        left_key="cuser",
        right_key="user_id",
        left_time="cts",
        right_time="ts",
        value_cols=["click_id"],
    )
    attributed = F.col("asof_cts").isNotNull() & (
        F.col("asof_cts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")
    )
    return (
        joined.select(
            F.when(attributed, F.date_trunc("day", F.col("asof_cts"))).alias(
                "attr_day"
            ),
            "value",
        )
        .groupBy("attr_day")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(F.sum("value"), 6).alias("attributed_value"),
        )
    )


_BLOOM_BITS = 1 << 17
_BLOOM_K = 5
_BLOOM_PRED_SQL = "o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'"


def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning, DataFrame-native (operators/
    bloom.py — this build exposes no bloom_filter_agg/might_contain,
    which is why SURVEY carried the capability as jar-blocked): the
    selective orders subset collapses to a kilobyte bitmap via
    explode+bit_or, ships as a broadcast literal, and pre-filters
    lineitem with pure codegen bit tests BEFORE the real join's
    exchange — the join then moves only true matches + false
    positives. Output is the effectiveness ledger: probe rows, rows
    passing the bloom, and true matches (FP count = pass − match).

    Fully oracled because the double-hash positions are exact BIGINT
    arithmetic (Knuth mixers, bloom_positions_sql emits the identical
    expressions) — DuckDB verifies membership via the equivalent
    position-set formulation instead of a bitmap."""
    orders = load_table(spark, sf_dir, "orders")
    build_keys = (
        orders.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderstatus") == "F")
        )
        .select("o_orderkey")
        .distinct()
    )
    # sf_dir names an immutable parquet snapshot, so it identifies the
    # build data: steady-state invocations skip the build job entirely
    bitmap = bloom_build(
        build_keys,
        "o_orderkey",
        _BLOOM_BITS,
        _BLOOM_K,
        cache_key=("bloom_join_prune", sf_dir),
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    marked = li.join(
        F.broadcast(build_keys.withColumn("_m", F.lit(True))),
        li["l_orderkey"] == build_keys["o_orderkey"],
        "left",
    )
    passes = bloom_might_contain(
        F.col("l_orderkey"), bitmap, _BLOOM_BITS, _BLOOM_K
    )
    return marked.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.when(passes, 1).otherwise(0)).alias("n_bloom_pass"),
        F.sum(F.when(F.col("_m"), 1).otherwise(0)).alias("n_true_match"),
    )


_HOT_K = 12
_SALT = 8


def q_skew_salted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    # the report: top-K heaviest probe keys (fanout desc, key asc —
    # a total order, so the decision is deterministic), collected to
    # the driver as the K-row mitigation list
    hot = (
        orders.groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("fanout"))
        .orderBy(F.desc("fanout"), F.asc("custkey"))
        .limit(_HOT_K)
    )
    hot_keys = [r["custkey"] for r in hot.collect()]
    is_hot = F.col("custkey").isin(hot_keys)
    j_hot = salted_join(
        orders.filter(is_hot),
        cust.filter(is_hot),
        "custkey",
        salt=_SALT,
    )
    j_cold = orders.filter(~is_hot).join(cust, "custkey")
    cols = ["c_mktsegment", "o_orderpriority", "o_totalprice"]
    return (
        j_hot.select(*cols)
        .unionByName(j_cold.select(*cols))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# ------------------------------------------------ customer analytics


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: first-order-month cohorts ×
    months-since-cohort, with active customers, orders, and revenue
    per cell."""
    orders = load_table(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    j = orders.join(first, "o_custkey")
    month_offset = (
        F.months_between(
            F.date_trunc("month", F.col("o_orderdate")), F.col("cohort_month")
        )
        .cast("int")
        .alias("month_offset")
    )
    return j.groupBy("cohort_month", month_offset).agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


def q_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    return (
        gaps.join(F.broadcast(cust), "o_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.avg("gap_days"), 6).alias("avg_gap"),
            F.round(F.percentile(F.col("gap_days").cast("double"), F.lit(0.5)), 6).alias(
                "median_gap"
            ),
            F.max("gap_days").alias("max_gap"),
        )
    )


def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + new users + cumulative distinct reach —
    the growth-analytics triple. Exact running distinct WITHOUT
    re-scanning history: each user's FIRST-seen day (one uniform
    groupBy) turns the cumulative distinct count into a running sum
    of per-day first-seen counts — the incremental formulation that
    holds at 100 TB (the naive per-day COUNT(DISTINCT) over an
    expanding window rescans the fact). The running-sum window runs
    over the post-agg ~calendar-sized table (metadata-sized single
    partition, like histogram_quantiles' estimator tail)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    day = F.date_trunc("day", F.col("ts")).alias("day")
    active = (
        ev.select(day, "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("active_users"))
    )
    new_users = (
        ev.groupBy("user_id")
        .agg(F.min(F.date_trunc("day", F.col("ts"))).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        active.join(new_users, "day", "left")
        .withColumn("new_users", F.coalesce("new_users", F.lit(0)))
        .withColumn("cum_users", F.sum("new_users").over(w))
    )


def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    ref = orders.agg(F.max("o_orderdate").alias("_ref"))
    rfm = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("_last"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2)
            .cast("decimal(18,6)")
            .alias("_monetary_d"),
        )
        .crossJoin(F.broadcast(ref))
        .withColumn("recency_days", F.datediff("_ref", "_last").cast("int"))
        .drop("_ref", "_last")
        # four consumers (three ntile slices + the scored join) — one
        # materialization, not four recomputes of the orders groupBy;
        # eager localCheckpoint over persist so the blocks release
        # with GC (no unpersist bookkeeping) and downstream joins
        # stay AQE-replannable (the knn_graph measurement)
        .localCheckpoint(eager=True)
    )
    # one count over the checkpointed blocks sizes all three range
    # exchanges (each slice has exactly |rfm| rows)
    n_cust = rfm.count()
    # three INDEPENDENT ntiles joined back on custkey — CHAINING the
    # calls wraps each plan around the previous one ~4× per call
    # (the dedup_clusters plan-growth class: 84 range exchanges in
    # the chained physical plan vs ~6 here, measured by
    # tools/plan_audit.py); independent scores also run in parallel

    def score(metric_col, order_cols, out_col):
        return distributed_ntile(
            rfm.select("custkey", metric_col),
            5,
            order_cols,
            out_col=out_col,
            n_rows=n_cust,
        ).select("custkey", out_col)

    r = score("recency_days", [F.asc("recency_days"), F.asc("custkey")], "r_score")
    f_ = score("frequency", [F.desc("frequency"), F.asc("custkey")], "f_score")
    m_ = score("_monetary_d", [F.desc("_monetary_d"), F.asc("custkey")], "m_score")
    scored = rfm.join(r, "custkey").join(f_, "custkey").join(m_, "custkey")
    # avg of a 6dp decimal sum over a count: exact-integer HALF_UP
    # (operators/rounding — the stream_sliding_avg tie class; a
    # power-of-two segment size puts round(sum/n, 6) exactly on the
    # 5e-7 tie where the engines disagree). Bounds: segment revenue
    # ≤ ~2e10 → 2·units ≤ 4e16, well inside BIGINT.
    out = (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("_monetary_d").alias("_sum_d"),
        )
        .withColumn("_units", (F.col("_sum_d") * 1000000).cast("long"))
        .select(
            "r_score",
            "f_score",
            "m_score",
            "n_customers",
            exact_avg6_expr("_units", "n_customers").alias("avg_monetary"),
        )
    )
    # every intermediate is a GC-scoped localCheckpoint now — nothing
    # to release, and the ≤125-row rollup needs no materialization
    return out


_RFM_SQL = """
    WITH rfm AS (
        SELECT o_custkey AS custkey,
               CAST(date_diff('day', max(o_orderdate),
                              (SELECT max(o_orderdate) FROM orders)) AS INT)
                   AS recency_days,
               count(*) AS frequency,
               CAST(round(sum(o_totalprice), 2) AS DECIMAL(18,6)) AS monetary_d
        FROM orders GROUP BY 1
    ), scored AS (
        SELECT *,
               CAST(ntile(5) OVER (ORDER BY recency_days ASC, custkey ASC)
                    AS INT) AS r_score,
               CAST(ntile(5) OVER (ORDER BY frequency DESC, custkey ASC)
                    AS INT) AS f_score,
               CAST(ntile(5) OVER (ORDER BY monetary_d DESC, custkey ASC)
                    AS INT) AS m_score
        FROM rfm
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_customers,
           {avg_monetary} AS avg_monetary
    FROM scored GROUP BY 1, 2, 3
""".format(
    avg_monetary=exact_avg6_sql(
        "CAST(sum(monetary_d) * 1000000 AS BIGINT)", "count(*)"
    )
)


def q_pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    # rev feeds the nation-total rollup AND the ranking window — one
    # eager materialization instead of re-running the orders groupBy +
    # joins per consumer (r13 before-plan: 12 scans, the whole triple
    # duplicated 4×); the window's n_name shuffle re-spreads
    # parallelism right after the checkpoint
    rev = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.round(F.sum("o_totalprice"), 2).cast("decimal(18,6)").alias("rev_d"))
        .join(cust, "custkey")
        .join(F.broadcast(nation), "c_nationkey")
        .localCheckpoint(eager=True)
    )
    tot = rev.groupBy("n_name").agg(F.sum("rev_d").alias("tot_d"))
    w = (
        Window.partitionBy("n_name")
        .orderBy(F.desc("rev_d"), F.asc("custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = (
        rev.withColumn(
            "rn",
            F.row_number()
            .over(Window.partitionBy("n_name").orderBy(F.desc("rev_d"), F.asc("custkey")))
            .cast("int"),
        )
        .withColumn("cum_d", F.sum("rev_d").over(w))
        .join(F.broadcast(tot), "n_name")
    )
    return ranked.groupBy("n_name").agg(
        F.max("rn").alias("n_customers"),
        # exact decimal comparison: cum/total >= 0.8  <=>  cum*5 >= total*4
        F.min(F.when(F.col("cum_d") * 5 >= F.col("tot_d") * 4, F.col("rn"))).alias(
            "n_top_customers"
        ),
        F.round(F.max("tot_d").cast("double"), 2).alias("nation_revenue"),
    )


_PARETO_SQL = """
    WITH rev AS (
        SELECT n_name, o.custkey,
               CAST(round(sum(o.rev), 2) AS DECIMAL(18,6)) AS rev_d
        FROM (SELECT o_custkey AS custkey, sum(o_totalprice) AS rev
              FROM orders GROUP BY 1) o
        JOIN customer ON c_custkey = o.custkey
        JOIN nation ON n_nationkey = c_nationkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT n_name, custkey, rev_d,
               CAST(row_number() OVER w AS INT) AS rn,
               sum(rev_d) OVER (PARTITION BY n_name
                                ORDER BY rev_d DESC, custkey ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum_d,
               sum(rev_d) OVER (PARTITION BY n_name) AS tot_d
        FROM rev
        WINDOW w AS (PARTITION BY n_name ORDER BY rev_d DESC, custkey ASC)
    )
    SELECT n_name,
           max(rn) AS n_customers,
           min(CASE WHEN cum_d * 5 >= tot_d * 4 THEN rn END)
               AS n_top_customers,
           round(CAST(max(tot_d) AS DOUBLE), 2) AS nation_revenue
    FROM ranked GROUP BY 1
"""


QUERIES = {
    "approx_stats": q_approx_stats,
    "tpch_q12": q_tpch_q12,
    "tpch_q13": q_tpch_q13,
    "tpch_q17": q_tpch_q17,
    "rollup_sales": q_rollup_sales,
    "customers_no_orders": q_customers_no_orders,
    "customers_with_orders": q_customers_with_orders,
    "distinct_parts_per_supplier": q_distinct_parts_per_supplier,
    "sessionize": q_sessionize,
    "tumbling_window_agg": q_tumbling_window_agg,
    "tpch_q19": q_tpch_q19,
    "tpch_q22": q_tpch_q22,
    "funnel": q_funnel,
    "weekly_retention": q_weekly_retention,
    "active_customer_overlap": q_active_customer_overlap,
    "unpivot_ohlc": q_unpivot_ohlc,
    "value_histogram": q_value_histogram,
    "word_frequency": q_word_frequency,
    "cube_sales": q_cube_sales,
    "big_orders": q_big_orders,
    "balance_distribution": q_balance_distribution,
    "nation_segments": q_nation_segments,
    "ntile_deciles": q_ntile_deciles,
    "asof_join": q_asof_join,
    "tpch_q4": q_tpch_q4,
    "tpch_q7": q_tpch_q7,
    "tpch_q10": q_tpch_q10,
    "tpch_q14": q_tpch_q14,
    "props_extract": q_props_extract,
    "price_quantiles": q_price_quantiles,
    "tpch_q1": q_tpch_q1,
    "tpch_q3": q_tpch_q3,
    "tpch_q5": q_tpch_q5,
    "tpch_q6": q_tpch_q6,
    "top_customers_per_nation": q_top_customers_per_nation,
    "pivot_returnflag": q_pivot_returnflag,
    "tpch_q2": q_tpch_q2,
    "tpch_q8": q_tpch_q8,
    "tpch_q9": q_tpch_q9,
    "tpch_q11": q_tpch_q11,
    "tpch_q15": q_tpch_q15,
    "tpch_q16": q_tpch_q16,
    "tpch_q20": q_tpch_q20,
    "tpch_q21": q_tpch_q21,
    "grouping_sets_sales": q_grouping_sets_sales,
    "revenue_share": q_revenue_share,
    "monthly_running_revenue": q_monthly_running_revenue,
    "range_join_clicks": q_range_join_clicks,
    "props_variant": q_props_variant,
    "hll_rollup": q_hll_rollup,
    "scd2_dim": q_scd2_dim,
    "scd2_asof": q_scd2_asof,
    "session_concurrency": q_session_concurrency,
    "snapshot_delta": q_snapshot_delta,
    "salted_join_revenue": q_salted_join_revenue,
    "quantile_rollup": q_quantile_rollup,
    "tpch_q18": q_tpch_q18,
    "cohort_ltv": q_cohort_ltv,
    "conversion_lag": q_conversion_lag,
    "funnel_attribution": q_funnel_attribution,
    "bloom_join_prune": q_bloom_join_prune,
    "skew_salted_revenue": q_skew_salted_revenue,
    "order_gap_stats": q_order_gap_stats,
    "cumulative_distinct_users": q_cumulative_distinct_users,
    "rfm_segmentation": q_rfm_segmentation,
    "pareto_revenue": q_pareto_revenue,
}

_SCD2_SQL = """
base AS (
    SELECT user_id, ts, event_id,
           CAST(floor(value / 50.0) AS INT) AS tier
    FROM events
),
flagged AS (
    SELECT user_id, ts, event_id, tier,
           CASE WHEN lag(tier) OVER w IS NULL
                     OR tier <> lag(tier) OVER w
                THEN 1 ELSE 0 END AS change
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
    SELECT user_id, ts, tier,
           sum(change) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
    FROM flagged
),
dim AS (
    SELECT user_id, island, tier,
           min(ts) AS valid_from,
           count(*) AS n_events
    FROM runs GROUP BY 1, 2, 3
),
versions AS (
    SELECT user_id, tier, valid_from,
           lead(valid_from) OVER wv AS valid_to,
           n_events,
           CAST(row_number() OVER wv AS INT) AS version
    FROM dim
    WINDOW wv AS (PARTITION BY user_id ORDER BY valid_from, island)
)"""

# CAST AS DOUBLE: a bare 0.5 literal is DECIMAL in DuckDB and the
# p·total rank arithmetic must be double×double on both engines
_QR_PS_SQL = ", ".join(f"CAST({p} AS DOUBLE)" for p in HISTOGRAM_PS)

# bloom_join_prune oracle: identical hash arithmetic via
# bloom_positions_sql, membership via the position-set formulation
# (a key passes iff all k positions are set by some build key —
# exactly the bitmap test, no bitmap needed in SQL)
_BP_BUILD = bloom_positions_sql("key", _BLOOM_BITS, _BLOOM_K)
_BP_PROBE = bloom_positions_sql("pk.key", _BLOOM_BITS, _BLOOM_K)

_BLOOM_SQL = f"""
    WITH build AS (
        SELECT DISTINCT o_orderkey AS key FROM orders
        WHERE {_BLOOM_PRED_SQL}
    ),
    bpos AS (
        SELECT DISTINCT unnest([{", ".join(_BP_BUILD)}]) AS pos FROM build
    ),
    pk AS (
        SELECT l_orderkey AS key, count(*) AS n
        FROM lineitem GROUP BY 1
    ),
    flags AS (
        SELECT pk.n,
               ({" AND ".join(f"({p}) IN (SELECT pos FROM bpos)" for p in _BP_PROBE)})
                   AS bloom_pass,
               pk.key IN (SELECT key FROM build) AS true_match
        FROM pk
    )
    SELECT CAST(sum(n) AS BIGINT) AS n_probe,
           CAST(sum(CASE WHEN bloom_pass THEN n ELSE 0 END) AS BIGINT)
               AS n_bloom_pass,
           CAST(sum(CASE WHEN true_match THEN n ELSE 0 END) AS BIGINT)
               AS n_true_match
    FROM flags
"""

ORACLE = {
    "tpch_q12": """
        SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) < 30 THEN 'fast'
                    WHEN date_diff('day', o_orderdate, l_shipdate) < 60 THEN 'medium'
                    ELSE 'slow' END AS delay_class,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1
    """,
    "tpch_q13": """
        WITH per_c AS (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority <> '3-MEDIUM') o
              ON c_custkey = o.o_custkey
            GROUP BY c_custkey
        )
        SELECT CAST(c_count AS INT) AS c_count, count(*) AS custdist
        FROM per_c GROUP BY 1
    """,
    "tpch_q17": """
        WITH avg_q AS (
            SELECT l_partkey AS aq_partkey,
                   0.2 * avg(l_quantity) AS qty_threshold
            FROM lineitem GROUP BY 1
        )
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
               count(*) AS n_items
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#1'
        JOIN avg_q ON l_partkey = aq_partkey
        WHERE l_quantity < qty_threshold
    """,
    "tpch_q19": """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 40)
    """,
    "tpch_q22": """
        SELECT c_mktsegment, count(*) AS n_custs,
               round(sum(c_acctbal), 2) AS total_bal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment
    """,
    "funnel": """
        WITH firsts AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
            FROM events GROUP BY user_id
        )
        SELECT user_id, t_view, t_click, t_buy
        FROM firsts
        WHERE t_view IS NOT NULL AND t_click IS NOT NULL AND t_buy IS NOT NULL
          AND t_view < t_click AND t_click < t_buy
    """,
    "weekly_retention": """
        WITH user_weeks AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
        ),
        cohorts AS (
            SELECT user_id, min(week) AS cohort_week FROM user_weeks GROUP BY user_id
        )
        SELECT cohort_week, week, count(DISTINCT uw.user_id) AS n_active
        FROM user_weeks uw JOIN cohorts c ON uw.user_id = c.user_id
        GROUP BY cohort_week, week
    """,
    "active_customer_overlap": """
        SELECT user_id AS id FROM events
        INTERSECT
        SELECT o_custkey AS id FROM orders
    """,
    "unpivot_ohlc": """
        WITH bars AS (
            SELECT event_type AS series_key,
                   date_trunc('day', ts) AS date,
                   arg_min(value, ts) AS open,
                   max(value) AS high,
                   min(value) AS low,
                   arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2
        )
        SELECT series_key, date, field, value
        FROM bars
        UNPIVOT (value FOR field IN (open, high, low, close))
    """,
    "value_histogram": """
        SELECT event_type,
               CAST(floor(value / 25) AS BIGINT) AS bucket,
               count(*) AS n
        FROM events
        GROUP BY 1, 2
    """,
    "word_frequency": r"""
        SELECT word, count(*) AS n
        FROM (
            SELECT unnest(string_split(
                regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word
            FROM documents
        )
        GROUP BY word
        ORDER BY n DESC, word
        LIMIT 20
    """,
    "cube_sales": """
        WITH base AS (
            SELECT c_mktsegment, o_orderstatus, o_totalprice
            FROM orders JOIN customer ON o_custkey = c_custkey
        )
        SELECT c_mktsegment, o_orderstatus,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM base
        GROUP BY CUBE (c_mktsegment, o_orderstatus)
    """,
    "big_orders": """
        WITH big AS (
            SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING round(sum(l_quantity), 2) > 250
        )
        SELECT c_custkey, c_name, l_orderkey, o_orderdate, o_totalprice, total_qty
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "balance_distribution": """
        SELECT c_custkey, c_mktsegment, c_acctbal,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume_dist
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
    """,
    "nation_segments": """
        SELECT n_name AS nation,
               string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
               count(*) AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "ntile_deciles": """
        SELECT c_custkey, c_mktsegment, c_acctbal,
               CAST(ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS INT)
                   AS balance_decile
        FROM customer
    """,
    "asof_join": """
        WITH ord AS (
            SELECT o_custkey AS cust, date_trunc('day', o_orderdate) AS odate,
                   max_by(o_totalprice, o_orderkey) AS last_order_price
            FROM orders GROUP BY 1, 2
        )
        SELECT e.event_id, e.user_id, date_trunc('day', e.ts) AS event_date,
               o.odate AS last_order_date, o.last_order_price
        FROM events e
        ASOF LEFT JOIN ord o
          ON e.user_id = o.cust AND date_trunc('day', e.ts) >= o.odate
    """,
    "tpch_q4": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        GROUP BY o_orderpriority
    """,
    "tpch_q7": """
        SELECT supp_nation, cust_nation,
               CAST(year(l_shipdate) AS INT) AS ship_year,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS volume
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN (SELECT n_nationkey AS s_nkey, n_name AS supp_nation FROM nation) n1
          ON s_nationkey = s_nkey
        JOIN (SELECT n_nationkey AS c_nkey, n_name AS cust_nation FROM nation) n2
          ON c_nationkey = c_nkey
        WHERE (supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
           OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1')
        GROUP BY supp_nation, cust_nation, year(l_shipdate)
    """,
    "tpch_q10": """
        SELECT c_custkey, c_name, n_name AS nation,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "tpch_q14": """
        SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-02-01 00:00:00'
    """,
    "props_extract": """
        SELECT event_type,
               round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k,
               max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
               count(*) AS n
        FROM events
        GROUP BY event_type
    """,
    "price_quantiles": """
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
               round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price,
               round(avg(l_extendedprice), 6) AS avg_price
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "tpch_q1": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(l_extendedprice), 6) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "tpch_q3": """
        SELECT l_orderkey, o_orderdate,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "tpch_q5": """
        SELECT n_name AS nation,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
    """,
    "tpch_q6": """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "top_customers_per_nation": """
        WITH per_cust AS (
            SELECT c_custkey, c_name, c_nationkey,
                   round(sum(o_totalprice), 2) AS total_spent
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name, c_nationkey
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY c_nationkey
                        ORDER BY total_spent DESC, c_custkey ASC) AS rank
            FROM per_cust
        )
        SELECT n_name AS nation, c_custkey, c_name, total_spent,
               CAST(rank AS INT) AS rank
        FROM ranked JOIN nation ON c_nationkey = n_nationkey
        WHERE rank <= 3
    """,
    "pivot_returnflag": """
        SELECT l_returnflag,
               round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0.0 END), 2) AS qty_open,
               round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0.0 END), 2) AS qty_filled,
               count(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "rollup_sales": """
        WITH base AS (
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INT) AS order_year,
                   o_totalprice
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
        )
        SELECT nation, order_year,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM base
        GROUP BY ROLLUP (nation, order_year)
    """,
    "customers_no_orders": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "customers_with_orders": """
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
    "distinct_parts_per_supplier": """
        SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts,
               count(*) AS n_lineitems
        FROM lineitem GROUP BY l_suppkey
    """,
    "sessionize": """
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
            FROM flagged
        )
        SELECT user_id, session_seq, count(*) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end,
               round(sum(value), 6) AS session_value
        FROM sess GROUP BY user_id, session_seq
    """,
    "tumbling_window_agg": """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type, count(*) AS n, round(sum(value), 6) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    "tpch_q2": """
        WITH unit AS (
            SELECT l_partkey, l_suppkey,
                   l_extendedprice / l_quantity AS unit_price
            FROM lineitem
        ), min_unit AS (
            SELECT l_partkey AS m_partkey, min(unit_price) AS min_unit
            FROM unit GROUP BY 1
        )
        SELECT DISTINCT p_partkey, p_name, s_name, n_name,
               round(min_unit, 6) AS min_unit_price
        FROM unit
        JOIN min_unit ON l_partkey = m_partkey AND unit_price = min_unit
        JOIN part ON l_partkey = p_partkey AND p_size < 10
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
    """,
    "tpch_q8": """
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               round(
                   sum(CASE WHEN n2.n_name = 'NATION_5'
                            THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                   / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        JOIN orders ON l_orderkey = o_orderkey
             AND year(o_orderdate) IN (1996, 1997)
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        GROUP BY 1
    """,
    "tpch_q9": """
        SELECT n_name AS nation_name,
               CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(round(sum(
                   CAST(l_extendedprice AS DECIMAL(18,6))
                     * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))
                   - CAST(0.1 AS DECIMAL(18,6))
                     * CAST(p_retailprice AS DECIMAL(18,6))
                     * CAST(l_quantity AS DECIMAL(18,6))
               ), 2) AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    """,
    "tpch_q11": """
        WITH value AS (
            SELECT l_partkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS part_value
            FROM lineitem
            WHERE l_suppkey IN (
                SELECT s_suppkey FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
            )
            GROUP BY 1
        )
        SELECT l_partkey, part_value
        FROM value
        WHERE part_value > (SELECT round(sum(part_value) * 0.001, 2) FROM value)
    """,
    "tpch_q15": """
        WITH rev AS (
            SELECT l_suppkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-07-01'
            GROUP BY 1
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
    "tpch_q16": """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
          AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        GROUP BY 1, 2, 3
    """,
    "tpch_q20": """
        SELECT s_name, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small %')
            GROUP BY 1
            HAVING sum(l_quantity) > 50
        )
    """,
    "tpch_q21": """
        WITH per_os AS (
            SELECT l_orderkey, l_suppkey, max(l_extendedprice) AS s_max
            FROM lineitem GROUP BY 1, 2
        ), per_o AS (
            SELECT l_orderkey AS o_key, count(*) AS n_supp,
                   max(s_max) AS top_max,
                   arg_max(l_suppkey, s_max) AS top_supp,
                   max(CASE WHEN rnk = 2 THEN s_max END) AS second_max
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY l_orderkey
                    ORDER BY s_max DESC, l_suppkey DESC
                ) AS rnk
                FROM per_os
            )
            GROUP BY 1
        )
        SELECT s_name, numwait FROM (
            SELECT l_suppkey, count(*) AS numwait
            FROM per_os
            JOIN per_o ON l_orderkey = o_key
            WHERE n_supp >= 2 AND l_suppkey = top_supp AND s_max > second_max
            GROUP BY 1
        )
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
    """,
    "grouping_sets_sales": """
        SELECT n_name,
               order_year,
               CAST(grouping(n_name) AS INT) AS g_nation,
               CAST(grouping(order_year) AS INT) AS g_year,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM (
            SELECT n_name, CAST(year(o_orderdate) AS INT) AS order_year,
                   o_totalprice
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
        )
        GROUP BY GROUPING SETS ((n_name, order_year), (n_name), ())
    """,
    "revenue_share": """
        WITH per_nation AS (
            SELECT r_name, n_name, round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        )
        SELECT r_name, n_name, revenue,
               round(revenue / sum(revenue) OVER (PARTITION BY r_name), 6) AS share
        FROM per_nation
    """,
    "monthly_running_revenue": """
        WITH monthly AS (
            SELECT c_mktsegment,
                   date_trunc('month', o_orderdate) AS month,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2
        )
        SELECT c_mktsegment, month, revenue, n_orders,
               round(sum(revenue) OVER (PARTITION BY c_mktsegment ORDER BY month
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW), 2) AS cum_revenue
        FROM monthly
    """,
    # epoch_us on both engines (the repo ts-comparison rule); same
    # semantics as the stream_interval_join oracle, view->click
    "range_join_clicks": """
        SELECT v.event_id AS view_id, c.event_id AS click_id,
               c.user_id AS user_id, v.ts AS view_ts, c.ts AS click_ts
        FROM events v JOIN events c
          ON v.user_id = c.user_id
         AND epoch_us(c.ts) >= epoch_us(v.ts)
         AND epoch_us(c.ts) <= epoch_us(v.ts) + 1800 * 1000000
        WHERE v.event_type = 'view' AND c.event_type = 'click'
    """,
    # hll_rollup: rows-only (sketch estimates have no DuckDB twin)
    "props_variant": """
        SELECT event_type,
               round(avg(k), 6) AS avg_k,
               CAST(min(k) AS INT) AS min_k,
               CAST(max(k) AS INT) AS max_k,
               CAST(sum(CASE WHEN json_valid(props) THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_malformed,
               count(*) AS n
        FROM (
            -- guard the hard-error paths (r5 ADVICE): DuckDB's
            -- json_extract ERRORs on malformed JSON and a plain CAST
            -- errors on non-integer values, while the Spark side
            -- degrades to NULL via try_parse_json/try_variant_get.
            -- json_valid + try_cast is the oracle's graceful twin —
            -- current testdata has 0 malformed rows, but testdata
            -- regenerates every round and one bad row must not ERR
            -- the key for a whole round.
            SELECT event_type, props,
                   CASE WHEN json_valid(props)
                        THEN try_cast(json_extract_string(props, '$.k')
                                      AS INTEGER)
                   END AS k
            FROM events
        )
        GROUP BY event_type
    """,
    "scd2_dim": f"""
        WITH {_SCD2_SQL}
        SELECT user_id, tier, valid_from, valid_to, n_events, version
        FROM versions
    """,
    "scd2_asof": f"""
        WITH {_SCD2_SQL}
        SELECT f.event_id, f.user_id, f.ts, f.value,
               v.valid_from, v.tier, v.version
        FROM events f
        JOIN versions v
          ON f.user_id = v.user_id
         AND v.valid_from <= f.ts
         AND (f.ts < v.valid_to OR v.valid_to IS NULL)
        WHERE f.event_type = 'purchase'
    """,
    "session_concurrency": f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                             > {_GAP_S} * 1000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_seq,
                   ts
            FROM flagged
        ),
        ivals AS (
            SELECT user_id, session_seq,
                   min(ts) AS s_start, max(ts) AS s_end
            FROM sess GROUP BY 1, 2
        ),
        hours AS (
            SELECT user_id,
                   unnest(generate_series(date_trunc('hour', s_start),
                                          date_trunc('hour', s_end),
                                          INTERVAL 1 HOUR)) AS hour_start
            FROM ivals
        )
        SELECT hour_start,
               count(*) AS n_sessions,
               count(DISTINCT user_id) AS n_users
        FROM hours GROUP BY hour_start
    """,
    # direct column comparison (no hash) — see q_snapshot_delta doc
    "snapshot_delta": """
        WITH 
bars_old AS (
    SELECT event_type AS series_key,
           date_trunc('day', ts) AS date,
           arg_min(value, ts) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, ts) AS close,
           count(*) AS volume,
           round(sum(value), 6) AS turnover
    FROM events WHERE event_id % 50 <> 0
    GROUP BY 1, 2
),
bars_new AS (
    SELECT event_type AS series_key,
           date_trunc('day', ts) AS date,
           arg_min(value, ts) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, ts) AS close,
           count(*) AS volume,
           round(sum(value), 6) AS turnover
    FROM events 
    GROUP BY 1, 2
),
        j AS (
            SELECT coalesce(n.series_key, o.series_key) AS series_key,
                   coalesce(n.date, o.date) AS date,
                   CASE WHEN o.series_key IS NULL THEN 'insert'
                        WHEN n.series_key IS NULL THEN 'delete'
                        WHEN (o.open IS DISTINCT FROM n.open)
                          OR (o.high IS DISTINCT FROM n.high)
                          OR (o.low IS DISTINCT FROM n.low)
                          OR (o.close IS DISTINCT FROM n.close)
                          OR (o.volume IS DISTINCT FROM n.volume)
                          OR (o.turnover IS DISTINCT FROM n.turnover)
                        THEN 'update' END AS change_kind,
                   CASE WHEN n.series_key IS NULL THEN o.open ELSE n.open END AS open,
                   CASE WHEN n.series_key IS NULL THEN o.high ELSE n.high END AS high,
                   CASE WHEN n.series_key IS NULL THEN o.low ELSE n.low END AS low,
                   CASE WHEN n.series_key IS NULL THEN o.close ELSE n.close END AS close,
                   CASE WHEN n.series_key IS NULL THEN o.volume ELSE n.volume END AS volume,
                   CASE WHEN n.series_key IS NULL THEN o.turnover ELSE n.turnover END AS turnover
            FROM bars_old o
            FULL OUTER JOIN bars_new n
              ON o.series_key = n.series_key AND o.date = n.date
        )
        SELECT series_key, date, open, high, low, close, volume,
               turnover, change_kind
        FROM j WHERE change_kind IS NOT NULL
    """,
    # the plain join IS the oracle: salting must not change results
    "salted_join_revenue": """
        SELECT c_mktsegment, o_orderpriority,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    """,
    # the IDENTICAL deterministic estimator on both engines: same
    # floor-binning (double arithmetic is bitwise-reproducible), same
    # cumulative ranks, same interpolation — so the approximate
    # quantiles hash-match exactly
    "quantile_rollup": f"""
        WITH stats AS (
            SELECT min(value) AS lo, max(value) AS hi
            FROM events WHERE value IS NOT NULL
        ),
        binned AS (
            SELECT event_type AS series_key,
                   CASE WHEN hi > lo
                        THEN LEAST(CAST(floor((value - lo)
                                   / ((hi - lo) / {HISTOGRAM_BINS}.0)) AS INT),
                                   {HISTOGRAM_BINS - 1})
                        ELSE 0 END AS bin,
                   count(*) AS n
            FROM events, stats WHERE value IS NOT NULL
            GROUP BY 1, 2
        ),
        merged AS (
            SELECT series_key, FALSE AS is_total, bin, n FROM binned
            UNION ALL
            SELECT NULL, TRUE, bin, CAST(sum(n) AS BIGINT)
            FROM binned GROUP BY bin
        ),
        cum AS (
            SELECT series_key, is_total, bin, n,
                   sum(n) OVER (PARTITION BY series_key, is_total
                                ORDER BY bin) AS cum,
                   sum(n) OVER (PARTITION BY series_key, is_total) AS total
            FROM merged
        ),
        sel AS (
            SELECT series_key, is_total, p, total,
                   arg_min(bin, bin) AS bin,
                   arg_min(n, bin) AS n,
                   arg_min(cum, bin) AS cum
            FROM cum,
                 (SELECT unnest([{_QR_PS_SQL}])
                         AS p) ps
            WHERE cum >= p * total
            GROUP BY 1, 2, 3, 4
        )
        SELECT series_key, is_total, p,
               round(lo + ((hi - lo) / {HISTOGRAM_BINS}.0)
                     * (bin + (p * total - (cum - n)) / n), 6) AS approx_value,
               CAST(total AS BIGINT) AS n_values
        FROM sel, stats
    """,
    "tpch_q18": f"""
        WITH big AS (
            SELECT l_orderkey, sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(l_quantity) > {_Q18_MIN_QTY}
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               CAST(sum_qty AS DOUBLE) AS sum_qty
        FROM big
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "cohort_ltv": """
        WITH first AS (
            SELECT o_custkey,
                   date_trunc('month', min(o_orderdate)) AS cohort_month
            FROM orders GROUP BY o_custkey
        )
        SELECT cohort_month,
               CAST(datediff('month', cohort_month,
                             date_trunc('month', o_orderdate)) AS INT)
                   AS month_offset,
               count(DISTINCT o_custkey) AS n_customers,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders JOIN first USING (o_custkey)
        GROUP BY 1, 2
    """,
    # quantile_rollup's oracle with lag-days as the sketched value
    "conversion_lag": f"""
        WITH lag AS (
            SELECT o.o_orderpriority AS series_key,
                   CAST(date_diff('day', o.o_orderdate, l.l_shipdate)
                        AS DOUBLE) AS value
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL
        ),
        stats AS (
            SELECT min(value) AS lo, max(value) AS hi FROM lag
        ),
        binned AS (
            SELECT series_key,
                   CASE WHEN hi > lo
                        THEN LEAST(CAST(floor((value - lo)
                                   / ((hi - lo) / {HISTOGRAM_BINS}.0)) AS INT),
                                   {HISTOGRAM_BINS - 1})
                        ELSE 0 END AS bin,
                   count(*) AS n
            FROM lag, stats
            GROUP BY 1, 2
        ),
        merged AS (
            SELECT series_key, FALSE AS is_total, bin, n FROM binned
            UNION ALL
            SELECT NULL, TRUE, bin, CAST(sum(n) AS BIGINT)
            FROM binned GROUP BY bin
        ),
        cum AS (
            SELECT series_key, is_total, bin, n,
                   sum(n) OVER (PARTITION BY series_key, is_total
                                ORDER BY bin) AS cum,
                   sum(n) OVER (PARTITION BY series_key, is_total) AS total
            FROM merged
        ),
        sel AS (
            SELECT series_key, is_total, p, total,
                   arg_min(bin, bin) AS bin,
                   arg_min(n, bin) AS n,
                   arg_min(cum, bin) AS cum
            FROM cum,
                 (SELECT unnest([{_QR_PS_SQL}]) AS p) ps
            WHERE cum >= p * total
            GROUP BY 1, 2, 3, 4
        )
        SELECT series_key, is_total, p,
               round(lo + ((hi - lo) / {HISTOGRAM_BINS}.0)
                     * (bin + (p * total - (cum - n)) / n), 6) AS approx_value,
               CAST(total AS BIGINT) AS n_values
        FROM sel, stats
    """,
    "funnel_attribution": """
        WITH clicks AS (
            SELECT user_id AS cuser, ts AS cts, max(event_id) AS click_id
            FROM events
            WHERE event_type = 'click'
              AND user_id IS NOT NULL AND ts IS NOT NULL
            GROUP BY 1, 2
        ),
        p AS (
            SELECT user_id, ts, value FROM events
            WHERE event_type = 'purchase'
              AND user_id IS NOT NULL AND ts IS NOT NULL
        )
        SELECT CASE WHEN c.cts IS NOT NULL
                         AND c.cts >= p.ts - INTERVAL 7 DAY
                    THEN date_trunc('day', c.cts) END AS attr_day,
               count(*) AS n_conversions,
               round(sum(p.value), 6) AS attributed_value
        FROM p
        ASOF LEFT JOIN clicks c
          ON p.user_id = c.cuser AND c.cts <= p.ts
        GROUP BY 1
    """,
    "bloom_join_prune": _BLOOM_SQL,
    # the PLAIN join: the report-driven hot/cold split + salting must
    # be result-invariant
    "skew_salted_revenue": """
        SELECT c.c_mktsegment, o.o_orderpriority,
               round(sum(o.o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    """,
    "cumulative_distinct_users": """
        WITH active AS (
            SELECT date_trunc('day', ts) AS day,
                   count(DISTINCT user_id) AS active_users
            FROM events WHERE user_id IS NOT NULL
            GROUP BY 1
        ),
        firsts AS (
            SELECT user_id, min(date_trunc('day', ts)) AS day
            FROM events WHERE user_id IS NOT NULL
            GROUP BY 1
        ),
        news AS (
            SELECT day, count(*) AS new_users FROM firsts GROUP BY 1
        )
        SELECT a.day, a.active_users,
               coalesce(n.new_users, 0) AS new_users,
               CAST(sum(coalesce(n.new_users, 0)) OVER (
                   ORDER BY a.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_users
        FROM active a LEFT JOIN news n USING (day)
    """,
    "order_gap_stats": """
        WITH gaps AS (
            SELECT o_custkey,
                   date_diff('day',
                             lag(o_orderdate) OVER (
                                 PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey),
                             o_orderdate) AS gap_days
            FROM orders
        )
        SELECT c.c_mktsegment,
               count(*) AS n_gaps,
               round(avg(gap_days), 6) AS avg_gap,
               round(quantile_cont(CAST(gap_days AS DOUBLE), 0.5), 6)
                   AS median_gap,
               CAST(max(gap_days) AS INT) AS max_gap
        FROM gaps g JOIN customer c ON g.o_custkey = c.c_custkey
        WHERE gap_days IS NOT NULL
        GROUP BY 1
    """,
    "rfm_segmentation": _RFM_SQL,
    "pareto_revenue": _PARETO_SQL,
}
