"""r5-built keys for the r6 window (llm_next2 / stream_next2): the
SAME value-level DuckDB comparison the driver runs, plus the semantic
pins the rows-only key needs. The indicator and OLAP-family keys
staged with them are checked once by tests/test_oracle_parity.py."""

from __future__ import annotations

import pytest

from stock_data_project_spark.plans import (
    audits,
    graph,
    indicators,
    llm_next2,
    olap,
    stream_next2,
)
from tests.conftest import SF_ORACLE
from tests.oracle_utils import assert_gradable_schema, compare, duckdb_run

# Keys staged here that now live in the domain modules; their
# parity runs in tests/test_oracle_parity.py.
MOVED_KEYS = {
    indicators: {
        "williams_r",
        "mfi",
        "ulcer_index",
        "linear_interp",
    },
    olap: {
        "scd2_dim",
        "scd2_asof",
        "session_concurrency",
        "snapshot_delta",
        "salted_join_revenue",
        "quantile_rollup",
    },
    audits: {
        "data_quality_audit",
        "expectation_gate",
    },
    graph: {
        "user_influence",
    },
}
ALL_Q = {
    **llm_next2.QUERIES_NEXT,
    **stream_next2.QUERIES_NEXT,
}
ALL_O = {
    **llm_next2.ORACLE_NEXT,
    **stream_next2.ORACLE_NEXT,
}
ROWS_ONLY = {
    "split_counts",  # xxhash64 membership has no DuckDB twin
    "bpe_token_count",  # sequential merge loop is not SQL-expressible
    "pack_stats",  # per-group FFD is sequential, not SQL-expressible
    "remix_counts",  # xxhash64 membership has no DuckDB twin
}


def test_every_new_key_has_an_oracle():
    assert set(ALL_Q) - ROWS_ONLY == set(ALL_O)
    for mod, keys in MOVED_KEYS.items():
        assert keys <= set(mod.QUERIES) & set(mod.ORACLE), mod.__name__


@pytest.mark.parametrize("key", sorted(ALL_Q))
def test_new_key_parity(spark, key):
    df = ALL_Q[key](spark, SF_ORACLE)
    assert_gradable_schema(df, key)
    assert df.count() > 0, f"{key}: empty result"
    if key not in ROWS_ONLY:
        compare(df, duckdb_run(ALL_O[key], SF_ORACLE))


def test_split_counts_concentration(spark):
    """Multinomial concentration: each split's count within ±4·√n of
    its weight (loose CLT bound, deterministic data so no flake), and
    the counts partition the corpus exactly."""
    rows = llm_next2.QUERIES_NEXT["split_counts"](spark, SF_ORACLE).collect()
    counts = {r["split"]: r["n_docs"] for r in rows}
    n = sum(counts.values())
    assert set(counts) == {"train", "val", "test"}
    for split, w in (("train", 0.8), ("val", 0.1), ("test", 0.1)):
        assert abs(counts[split] - w * n) <= 4 * (n**0.5) + 1, (split, counts)


def test_contamination_flags_catch_planted_partner(spark):
    """Every flagged doc shares ≥1 8-token shingle with the eval set
    by construction; cross-check one flagged doc against a direct
    DuckDB shingle intersection."""
    import duckdb

    flagged = (
        llm_next2.QUERIES_NEXT["contamination_flags"](spark, SF_ORACLE)
        .orderBy("doc_id")
        .collect()
    )
    assert flagged, "expected ≥1 contaminated doc at sf0.01"
    doc = flagged[0]["doc_id"]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/documents.parquet')"
    )
    n = con.sql(
        rf"""
        WITH norm AS (
            SELECT doc_id, string_split(
                regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w
            FROM documents WHERE text IS NOT NULL
        ), sh AS (
            SELECT DISTINCT doc_id,
                   array_to_string(list_slice(w, gs.i, gs.i + 7), ' ') sh
            FROM norm, LATERAL unnest(generate_series(1, len(w) - 7)) gs(i)
            WHERE len(w) >= 8
        )
        SELECT count(*) FROM sh a JOIN sh b USING (sh)
        WHERE a.doc_id = {doc} AND b.doc_id % 29 = 0
        """
    ).fetchone()[0]
    assert n >= 1


def test_pagerank_keeps_zero_indegree_nodes(spark):
    """Asymmetric graph satisfying the out-degree contract: a node
    nothing points at must converge to the base rank, not vanish
    after iteration 1 (r5 review finding)."""
    from stock_data_project_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 2, 1)], "src long, dst long, w long"
    )
    out = {r["node"]: r["rank"] for r in pagerank(edges, iters=5).collect()}
    assert set(out) == {1, 2, 3}
    assert abs(out[1] - (1 - 0.85) / 3) < 1e-6  # base rank, no in-edges
    assert out[2] > out[1] and out[3] > out[1]


def test_scd2_asof_drops_zero_width_versions(spark):
    """Two same-ts events in different tiers create a zero-width
    version sharing valid_from with its successor — it must be
    filtered before the as-of join (asof_join requires left unique
    per (key, time); the oracle's ts < valid_to can never pick it).
    r5 advisor finding."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from stock_data_project_spark.operators.asof import asof_join
    from stock_data_project_spark.operators.scd2 import scd2_build

    t = lambda h, m=0: datetime(2024, 1, 1, h, m)  # noqa: E731
    events = spark.createDataFrame(
        [
            (1, 100, t(10), 10.0),   # tier 0
            (2, 100, t(11), 60.0),   # tier 1 — same ts as next, flips
            (3, 100, t(11), 10.0),   # tier 0 → tier-1 version is zero-width
            (4, 100, t(12), 10.0),   # tier 0 (coalesces into v3's run)
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    dim = scd2_build(events)
    versions = sorted(dim.collect(), key=lambda r: r["version"])
    assert [v["tier"] for v in versions] == [0, 1, 0]
    assert versions[1]["valid_from"] == versions[1]["valid_to"] == t(11)

    live = dim.filter(
        F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from"))
    ).select("user_id", "valid_from", "tier", "version")
    # uniqueness per (key, time) restored
    assert live.groupBy("user_id", "valid_from").count().agg(
        F.max("count")
    ).collect()[0][0] == 1
    facts = spark.createDataFrame(
        [(10, 100, t(11)), (11, 100, t(11, 30))],
        "event_id long, user_id long, ts timestamp",
    )
    out = asof_join(
        live, facts,
        left_key="user_id", right_key="user_id",
        left_time="valid_from", right_time="ts",
        value_cols=["tier", "version"],
    ).collect()
    # interval semantics: both facts fall in v3 (tier 0), never the
    # zero-width tier-1 version
    assert {(r["tier"], r["version"]) for r in out} == {(0, 3)}


def test_williams_r_never_emits_negative_zero(spark):
    """r6's one red driver row: close == rolling high makes the
    numerator exactly 0 and the -100 factor turns it into IEEE -0.0;
    DuckDB's round() preserves the sign, Spark's doesn't, and the
    driver canonicalizer hashes the sign bit. with_williams_r now
    normalizes with `+ 0.0` after the final round (mirrored in the
    oracle SQL); pin that no -0.0 survives on a crafted
    close-at-the-high series."""
    import numpy as np

    from stock_data_project_spark.operators.indicators import with_williams_r

    rows = [
        # close == high == rolling max → %R = -0.0 without the fix
        ("A", 1, 10.0, 5.0, 10.0),
        ("A", 2, 10.0, 5.0, 10.0),
        ("A", 3, 12.0, 6.0, 12.0),
        ("A", 4, 11.0, 6.0, 8.0),
    ]
    df = spark.createDataFrame(
        rows, "series_key string, date int, high double, low double, close double"
    )
    vals = [
        r.williams_r
        for r in with_williams_r(df, order_col="date", window=14).collect()
        if r.williams_r is not None
    ]
    assert vals, "expected non-NULL %R values"
    assert not any(np.signbit(v) and v == 0.0 for v in vals), vals
    assert 0.0 in vals  # the close-at-high rows still produce exact zero


def test_compare_harness_catches_signed_zero(spark):
    """The in-repo parity harness must fail where the driver fails:
    two frames equal under == but differing in zero sign (the gap that
    let williams_r ship red in r6)."""
    import pandas as pd

    sdf = spark.createDataFrame([(1, 0.0)], "id int, v double")
    oracle_ok = pd.DataFrame({"id": [1], "v": [0.0]})
    oracle_bad = pd.DataFrame({"id": [1], "v": [-0.0]})
    compare(sdf, oracle_ok)
    with pytest.raises(AssertionError, match="signed-zero"):
        compare(sdf, oracle_bad)


def test_pagerank_rejects_null_src_and_nonpositive_outweight(spark):
    """r6 ADVICE: the self-loop rewrite silently narrowed the
    operator's contract — a NULL-src node vanished (NULL never
    equi-joins) and a zero/NULL total out-weight produced NaN ranks.
    The preconditions are now CHECKED up front."""
    from stock_data_project_spark.operators.graph import pagerank

    schema = "src string, dst string, w double"
    with pytest.raises(ValueError, match="NULL src"):
        pagerank(spark.createDataFrame([(None, "b", 1.0), ("b", "a", 1.0)], schema))
    with pytest.raises(ValueError, match="out-weight"):
        pagerank(spark.createDataFrame([("a", "b", 0.0), ("b", "a", 1.0)], schema))
    with pytest.raises(ValueError, match="out-weight"):
        pagerank(spark.createDataFrame([("a", "b", None), ("b", "a", 1.0)], schema))
    # the happy path still works
    ranks = pagerank(
        spark.createDataFrame([("a", "b", 1.0), ("b", "a", 1.0)], schema), iters=2
    )
    assert ranks.count() == 2
