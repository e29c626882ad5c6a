"""Invariant pins for the co-purchase / co-activity graph keys of
plans/graph.py: a brute-force triangle replay, apriori consistency of
the pair mining, PageRank mass and basket-lift identities. The
entity-resolution, k-core and item-similarity pins stay in
tests/test_next8_staged.py and tests/test_next9_staged.py under their
names. Value parity of every key,
its graded schema and a non-empty result are ``test_oracle_parity``
at sf0.01."""

from __future__ import annotations

import numpy as np

from stock_data_project_spark.plans import graph
from tests.conftest import SF_ORACLE
from tests.oracle_utils import duckdb_run


def test_every_key_is_oracled():
    assert set(graph.QUERIES) == set(graph.ORACLE)


def test_user_influence_is_a_distribution(spark):
    """Rank mass ≈ 1 over the node set (6dp-rounding drift bounded by
    n·5e-7), every rank positive, and the most-active users outrank
    the median — the property PageRank exists to measure."""
    rows = graph.QUERIES["user_influence"](spark, SF_ORACLE).collect()
    ranks = [r["rank"] for r in rows]
    assert all(r > 0 for r in ranks)
    assert abs(sum(ranks) - 1.0) < len(ranks) * 5e-7 + 1e-3
    assert max(ranks) > sorted(ranks)[len(ranks) // 2]


def test_triangle_count_matches_brute_force(spark):
    """Degree-oriented counting vs hand-countable graph: K4 plus a
    pendant — K4 has 4 triangles, the pendant adds none, and the
    orientation must not double- or zero-count the shared edges."""
    rows = [(a, b) for a in range(4) for b in range(a + 1, 4)] + [(3, 9)]
    ev_rows = []
    # encode the graph as a consecutive-event stream: one event_type
    # per edge, two events per type → lag() recovers exactly that edge
    for i, (a, b) in enumerate(rows):
        ev_rows.append((2 * i, f"t{i}", a))
        ev_rows.append((2 * i + 1, f"t{i}", b))
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (eid, base + timedelta(minutes=eid), uid, et, 1.0, None)
            for eid, et, uid in ev_rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        out = graph.q_triangle_count(spark, d).collect()[0]
    assert (out["n_nodes"], out["n_edges"], out["n_triangles"]) == (5, 7, 4)


def test_frequent_pairs_apriori_consistent(spark):
    """Every kept pair's parts are individually frequent (the prune
    must be lossless for pairs at min support), and support never
    exceeds either part's document frequency."""
    out = graph.QUERIES["frequent_pairs"](spark, SF_ORACLE).collect()
    assert out
    df = duckdb_run(
        "SELECT l_partkey, count(*) AS df FROM "
        "(SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) GROUP BY 1",
        SF_ORACLE,
    ).set_index("l_partkey")["df"]
    for r in out:
        assert df[r["part_a"]] >= r["support"] >= graph._PAIR_MIN_SUPPORT
        assert df[r["part_b"]] >= r["support"]


def test_basket_lift_identities(spark):
    pdf = graph.q_basket_lift(spark, SF_ORACLE).toPandas()
    assert (pdf["brand_a"] < pdf["brand_b"]).all()
    n = duckdb_run(
        """SELECT count(DISTINCT l_orderkey) AS n
           FROM lineitem JOIN part ON p_partkey = l_partkey""",
        SF_ORACLE,
    )["n"][0]
    # recompute conf = pair/supp_a and lift = pair*N/(supp_a*supp_b)
    # from independently-derived supports
    supp = duckdb_run(
        """SELECT p_brand, count(*) AS supp FROM (
               SELECT DISTINCT l_orderkey, p_brand
               FROM lineitem JOIN part ON p_partkey = l_partkey)
           GROUP BY 1""",
        SF_ORACLE,
    ).set_index("p_brand")["supp"]
    sa = pdf["brand_a"].map(supp).to_numpy(dtype=float)
    sb = pdf["brand_b"].map(supp).to_numpy(dtype=float)
    assert np.allclose(pdf["conf_a_to_b"], pdf["pair_count"] / sa, atol=1e-6)
    assert np.allclose(
        pdf["lift"], pdf["pair_count"] * float(n) / (sa * sb), atol=1e-6
    )
