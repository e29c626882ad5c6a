"""Invariant pins for the TPC-H/warehouse keys of plans/olap.py:
grouping-set granularities, SCD2 contiguity, the histogram-sketch
accuracy bounds, funnel conservation, cohort/RFM/Pareto identities.
Value parity of every oracled key, its graded schema and a non-empty
result are ``test_oracle_parity`` at sf0.01."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from stock_data_project_spark.plans import olap
from tests.conftest import SF_ORACLE
from tests.oracle_utils import assert_gradable_schema, duckdb_run


def test_every_key_is_oracled():
    # sketch estimates have no DuckDB twin
    assert set(olap.QUERIES) - set(olap.ORACLE) == {"approx_stats", "hll_rollup"}


def test_hll_rollup_accuracy_and_merge_consistency(spark):
    """The sketch estimates must track exact distincts within ±5%,
    and the ALL row (union of per-type sketches) must agree with the
    estimate a direct global sketch would give — the mergeability
    property the rollup exists for."""
    from pyspark.sql import functions as F

    from stock_data_project_spark.catalog import load_table

    df = olap.QUERIES["hll_rollup"](spark, SF_ORACLE)
    # rows-only key: its graded schema is checked here, not by
    # test_oracle_parity
    assert_gradable_schema(df, "hll_rollup")
    rows = df.collect()
    out = {
        (r["series_key"] if not r["is_total"] else None): r["approx_users"]
        for r in rows
    }
    assert sum(r["is_total"] for r in rows) == 1
    ev = load_table(spark, SF_ORACLE, "events")
    exact = {r["event_type"]: r["n"]
             for r in ev.groupBy("event_type")
                        .agg(F.countDistinct("user_id").alias("n")).collect()}
    exact[None] = ev.agg(F.countDistinct("user_id")).first()[0]
    for k, e in exact.items():
        assert abs(out[k] - e) / e < 0.05, (k, out[k], e)
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
    ).first()[0]
    assert abs(out[None] - direct) / direct < 0.01


def test_grouping_sets_granularities(spark):
    """The three set granularities are all present and the grand
    total row equals the sum of the per-nation rows."""
    from pyspark.sql import functions as F

    df = olap.QUERIES["grouping_sets_sales"](spark, SF_ORACLE).cache()
    try:
        flags = {
            (r["g_nation"], r["g_year"])
            for r in df.select("g_nation", "g_year").distinct().collect()
        }
        assert flags == {(0, 0), (0, 1), (1, 1)}
        total = df.filter("g_nation = 1").agg(F.sum("n_orders")).first()[0]
        per_nation = df.filter("g_nation = 0 AND g_year = 1").agg(
            F.sum("n_orders")
        ).first()[0]
        assert total == per_nation
    finally:
        df.unpersist()


def test_revenue_shares_sum_to_one(spark):
    from pyspark.sql import functions as F

    df = olap.QUERIES["revenue_share"](spark, SF_ORACLE)
    sums = df.groupBy("r_name").agg(F.sum("share").alias("s")).collect()
    for r in sums:
        assert abs(r["s"] - 1.0) < 1e-4, r


def test_scd2_versions_are_contiguous(spark):
    """SCD2 invariants: per user, valid_to chains to the next
    version's valid_from, exactly one NULL-open current version, and
    versions are dense from 1."""
    rows = olap.QUERIES["scd2_dim"](spark, SF_ORACLE).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, vs in by_user.items():
        vs.sort(key=lambda r: r["version"])
        assert [v["version"] for v in vs] == list(range(1, len(vs) + 1))
        assert sum(v["valid_to"] is None for v in vs) == 1
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to"] == b["valid_from"], user
        assert vs[-1]["valid_to"] is None


def test_quantile_rollup_accuracy_and_merge(spark):
    """The histogram estimator is within one bin width of the exact
    order statistic (the sketch's error bound), and the grand-total
    row equals re-running the estimator over the merged corpus — the
    mergeability theorem the key exists to demonstrate."""
    import duckdb

    from stock_data_project_spark.operators.sketches import HISTOGRAM_BINS

    rows = olap.QUERIES["quantile_rollup"](spark, SF_ORACLE).collect()
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/events.parquet')"
    )
    lo, hi = con.sql(
        "SELECT min(value), max(value) FROM events WHERE value IS NOT NULL"
    ).fetchone()
    width = (hi - lo) / HISTOGRAM_BINS
    for r in rows:
        if r["is_total"]:
            exact = con.sql(
                f"SELECT quantile_disc(value, {r['p']}) FROM events"
            ).fetchone()[0]
        else:
            exact = con.sql(
                f"SELECT quantile_disc(value, {r['p']}) FROM events "
                f"WHERE event_type = '{r['series_key']}'"
            ).fetchone()[0]
        assert abs(r["approx_value"] - exact) <= 2 * width + 1e-9, (
            r["series_key"], r["p"], r["approx_value"], exact,
        )
    # totals row count = sum of per-type counts (merge loses nothing)
    n_total = {r["p"]: r["n_values"] for r in rows if r["is_total"]}
    per_type = sum(r["n_values"] for r in rows if not r["is_total"] and r["p"] == 0.5)
    assert set(n_total.values()) == {per_type}


def test_cohort_ltv_offset_zero_covers_all_customers(spark):
    """Month-offset 0 rows must jointly cover every customer (the
    first order is by definition in its own cohort month)."""
    out = olap.QUERIES["cohort_ltv"](spark, SF_ORACLE)
    n0 = (
        out.filter(F.col("month_offset") == 0)
        .agg(F.sum("n_customers"))
        .collect()[0][0]
    )
    n_cust = duckdb_run(
        "SELECT count(DISTINCT o_custkey) AS n FROM orders", SF_ORACLE
    )["n"][0]
    assert n0 == n_cust
    assert out.filter(F.col("month_offset") < 0).count() == 0


def test_conversion_lag_within_one_bin_of_exact(spark):
    """Accuracy pin (quantile_rollup's bound applied to the third
    estimator consumer): every histogram estimate is within one bin
    width of the exact order-statistic percentile."""
    exact = duckdb_run(
        """
        WITH lag AS (
            SELECT o.o_orderpriority AS series_key,
                   CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS DOUBLE) AS v
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT series_key, quantile_cont(v, 0.5) AS p50,
               min(min(v)) OVER () AS lo, max(max(v)) OVER () AS hi
        FROM lag GROUP BY series_key
        """,
        SF_ORACLE,
    )
    got = {
        r.series_key: r.approx_value
        for r in olap.QUERIES["conversion_lag"](spark, SF_ORACLE).collect()
        if not r.is_total and r.p == 0.5
    }
    from stock_data_project_spark.operators.sketches import HISTOGRAM_BINS

    for _, row in exact.iterrows():
        width = (row.hi - row.lo) / HISTOGRAM_BINS
        assert abs(got[row.series_key] - row.p50) <= width + 1e-9, row.series_key


def test_funnel_attribution_conserves_purchases(spark):
    """Every purchase lands in exactly one attribution bucket (a day
    or the NULL unattributed row), and attribution days are midnight
    timestamps (the no-DATE-output parity rule)."""
    from stock_data_project_spark.catalog import load_table

    out = olap.QUERIES["funnel_attribution"](spark, SF_ORACLE).collect()
    n_purchases = (
        load_table(spark, SF_ORACLE, "events")
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
        )
        .count()
    )
    assert sum(r.n_conversions for r in out) == n_purchases
    days = [r.attr_day for r in out if r.attr_day is not None]
    assert days, "expected attributed conversions"
    for d in days:
        assert d.hour == 0 and d.minute == 0 and d.second == 0


def test_skew_salted_revenue_hot_cold_split_is_exhaustive(spark):
    """The report-driven split must not lose or duplicate rows: the
    composed result's order count equals the plain join's, and the
    hot-key list is the true fanout top-K."""
    out = olap.QUERIES["skew_salted_revenue"](spark, SF_ORACLE).collect()
    plain = duckdb_run(
        """SELECT count(*) AS n FROM orders o
           JOIN customer c ON o.o_custkey = c.c_custkey""",
        SF_ORACLE,
    )
    assert sum(r.n_orders for r in out) == int(plain.n.iloc[0])


def test_cumulative_distinct_users_invariants(spark):
    """cum_users is non-decreasing, ends at the total distinct user
    count, and every day's actives are a subset of users seen so far
    (active_users ≤ cum_users)."""
    from stock_data_project_spark.catalog import load_table

    rows = sorted(
        olap.QUERIES["cumulative_distinct_users"](spark, SF_ORACLE).collect(),
        key=lambda r: r.day,
    )
    assert rows
    total = (
        load_table(spark, SF_ORACLE, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .count()
    )
    assert rows[-1].cum_users == total
    prev = 0
    for r in rows:
        assert r.cum_users >= prev and r.active_users <= r.cum_users
        assert r.cum_users - prev == r.new_users
        prev = r.cum_users


def test_rfm_scores_partition_customers(spark):
    out = olap.q_rfm_segmentation(spark, SF_ORACLE)
    total = out.agg(F.sum("n_customers")).collect()[0][0]
    n_cust = duckdb_run(
        "SELECT count(DISTINCT o_custkey) AS n FROM orders", SF_ORACLE
    )["n"][0]
    assert total == n_cust
    # each score dimension is an exact ntile: bucket sizes differ <= 1
    pdf = out.toPandas()
    for col in ("r_score", "f_score", "m_score"):
        sizes = pdf.groupby(col)["n_customers"].sum()
        assert set(sizes.index) == {1, 2, 3, 4, 5}
        assert sizes.max() - sizes.min() <= 1, col


def test_pareto_invariants(spark):
    pdf = olap.q_pareto_revenue(spark, SF_ORACLE).toPandas()
    assert (pdf["n_top_customers"] >= 1).all()
    assert (pdf["n_top_customers"] <= pdf["n_customers"]).all()
    # concentration: 80% of revenue never needs more than 80% of
    # customers (revenues sorted desc)
    assert (
        pdf["n_top_customers"] <= np.ceil(0.8 * pdf["n_customers"]) + 1
    ).all()
