"""Plan-regression snapshots for the headline queries: the physical
properties the 100 TB design depends on, asserted from the physical
plan so a refactor can't silently regress them.

Invariants asserted (not exact plan text, which shifts across Spark
versions): dimension joins stay broadcast, filters stay pushed to
the scan, no unhinted cartesian/nested-loop joins appear, and the
shuffle count stays at the designed minimum."""

from __future__ import annotations

import re

from pyspark.sql import functions as F  # noqa: F401

from stock_data_project_spark.plans import bars, graph, olap
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_exchanges(plan: str) -> int:
    return len(re.findall(r"Exchange (?:hash|range|Single)", plan))


def test_tpch_q5_dims_broadcast_one_fact_shuffle(spark):
    plan = _plan(olap.QUERIES["tpch_q5"](spark, SF_SMOKE))
    # the dimension chain (customer, supplier, nation, region) rides
    # broadcast joins; only lineitem⋈orders + the agg shuffle
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    # 2 join-input exchanges + 1 aggregate exchange + 1 top-level sort
    assert _n_exchanges(plan) <= 5


def test_tpch_q6_filters_and_projection_reach_the_scan(spark):
    plan = _plan(olap.QUERIES["tpch_q6"](spark, SF_SMOKE))
    # plan text truncates long filter lists with "...", so match the
    # segment, not a closed bracket
    m = re.search(r"PushedFilters: \[([^\n]*)", plan)
    assert m and "l_shipdate" in m.group(1) and "l_discount" in m.group(1)
    m = re.search(r"ReadSchema: [^\n]*", plan)
    assert m and "l_orderkey" not in m.group(0)  # pruned to the 4 used cols


def test_fact_build_no_cartesian_and_broadcast_dims(spark):
    plan = _plan(bars.QUERIES["fact_build"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan


def test_asof_join_single_keyed_shuffle(spark):
    plan = _plan(olap.QUERIES["asof_join"](spark, SF_SMOKE))
    # union + window construction: everything meets in ONE
    # hash-partitioned exchange on the join key (plus the two
    # pre-aggregations' own exchanges); no nested-loop fallback
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert _n_exchanges(plan) <= 4


def test_ntile_deciles_no_global_window(spark):
    # since the r13 rank.py rework the ranged frame materializes
    # through a range exchange INSIDE the operator (eager GC-scoped
    # localCheckpoint — one sampled boundary set for every branch),
    # so the returned plan starts at an ExistingRDD scan; what stays
    # observable is that no partitionless global window computes the
    # decile (the test_rank.py twin, asserted here on the real
    # customer input q_ntile_deciles uses)
    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.operators.rank import distributed_ntile

    cust = load_table(spark, SF_SMOKE, "customer")
    out = distributed_ntile(
        cust.select("c_custkey", "c_mktsegment", "c_acctbal"),
        buckets=10,
        order_cols=[F.desc("c_acctbal"), F.asc("c_custkey")],
        out_col="balance_decile",
    )
    plan = _plan(out)
    # the checkpointed ranged frame is the data source of the rank path
    assert "ExistingRDD" in plan
    # a regression to a global ntile would show a Window with an EMPTY
    # partition spec downstream of a SinglePartition exchange. Assert
    # that failure shape directly — the old `"_pid" in plan` disjunct
    # was vacuous (the _pid column name always appears in the join
    # keys/projections, r13 ADVICE)
    m = re.search(r"Window \[[^\]]*\], \[\]", plan)
    assert m is None, f"empty-partition-spec window reappeared: {m.group(0)}"
    for mt in re.finditer(r"Window \[[^\]]*ntile", plan):
        raise AssertionError(f"global ntile window reappeared: {mt.group(0)}")


def test_dedup_exact_single_shuffle(spark):
    from stock_data_project_spark.plans import llm

    plan = _plan(llm.QUERIES["dedup_exact"](spark, SF_SMOKE))
    assert _n_exchanges(plan) == 1  # one groupBy on the content hash


def test_tpch_q17_part_broadcast_no_cartesian(spark):
    """Q17's selective part filter must ride a broadcast join; the
    agg-join-back on l_partkey must not degrade to a nested loop."""
    plan = _plan(olap.QUERIES["tpch_q17"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = re.findall(r"PushedFilters: \[([^\n]*)", plan)
    # dim filter reaches the part scan (any of the scans' pushed lists)
    assert any("p_brand" in p for p in pushed), pushed


def test_tpch_q12_date_filter_pushed(spark):
    plan = _plan(olap.QUERIES["tpch_q12"](spark, SF_SMOKE))
    m = re.search(r"PushedFilters: \[([^\n]*)", plan)
    assert m and "l_shipdate" in m.group(1)
    assert "CartesianProduct" not in plan


def test_ngram_repetition_zero_shuffles(spark):
    """The r3 reshape: the repetition signal is row-local, so the
    plan is one scan with no Exchange (the first cut's (doc, gram)
    groupBy shuffled ~n_grams rows, 2× slower at 30×)."""
    from stock_data_project_spark.plans import llm

    plan = _plan(llm.QUERIES["ngram_repetition"](spark, SF_SMOKE))
    assert _n_exchanges(plan) == 0, plan


def test_olap_next_q8_q9_dims_broadcast(spark):
    """The prebuilt Q8/Q9 shapes: every dimension hop rides a
    broadcast join; the only hash exchanges belong to the
    fact⋈orders join and the final aggregate."""
    for key, min_bc in (("tpch_q8", 3), ("tpch_q9", 2)):
        plan = _plan(olap.QUERIES[key](spark, SF_SMOKE))
        assert plan.count("BroadcastHashJoin") >= min_bc, key
        assert "CartesianProduct" not in plan, key
        assert _n_exchanges(plan) <= 4, (key, plan)


def test_olap_next_q20_semi_join_chain(spark):
    """Q20's nested-IN chain must plan as semi joins (no fact
    fan-out), with the part filter pushed into its scan."""
    plan = _plan(olap.QUERIES["tpch_q20"](spark, SF_SMOKE))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q18_big_orders_broadcast(spark):
    plan = _plan(olap.QUERIES["tpch_q18"](spark, SF_SMOKE))
    # the rare big-order set must ride a broadcast into the orders
    # scan — a shuffle join here would re-shuffle the whole fact
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_frequent_pairs_prune_before_pairing(spark):
    plan = _plan(graph.QUERIES["frequent_pairs"](spark, SF_SMOKE))
    # the apriori prune is a semi join that must sit BELOW the
    # pairing self-join in the plan (prune first, pair second), and
    # the pairing is an equi-join on the order key, never a cartesian
    assert re.search(r"(?s)SortMergeJoin.*LeftSemi|BroadcastHashJoin.*LeftSemi|LeftSemi", plan)
    assert "CartesianProduct" not in plan


def test_quantile_rollup_single_fact_scan_shape(spark):
    plan = _plan(olap.QUERIES["quantile_rollup"](spark, SF_SMOKE))
    # binning groupBy partial-aggregates map-side; the estimator tail
    # runs on sketch-sized data. The domain probe is the one extra
    # single-row aggregate (broadcast, scalar-subquery pattern).
    assert "CartesianProduct" not in plan
    m = re.search(r"ReadSchema: [^\n]*", plan)
    assert m and "props" not in m.group(0)  # pruned to (event_type, value)


def test_stratified_sample_no_global_window(spark):
    from stock_data_project_spark.plans import llm_next3

    plan = _plan(llm_next3.QUERIES_NEXT["stratified_sample"](spark, SF_SMOKE))
    # the rank window partitions by lang — a missing partitionBy
    # would appear as a SinglePartition exchange under the Window
    assert not re.search(r"Exchange SinglePartition\s*\n\s*\+?-?\s*\*?\(?\d*\)?\s*Window", plan)
    assert "CartesianProduct" not in plan
