"""r6-built keys for the r7 window (llm_next3 / stream_next3): the
SAME value-level DuckDB comparison the driver runs, plus per-key
semantic pins. The indicator and OLAP-family keys staged with them
are checked once by tests/test_oracle_parity.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_data_project_spark.plans import (
    graph,
    indicators,
    llm_next3,
    olap,
    stream_next3,
)
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import assert_gradable_schema, compare, duckdb_run

# Keys staged here that now live in the domain modules; their
# parity runs in tests/test_oracle_parity.py.
MOVED_KEYS = {
    indicators: {
        "ema_cross",
        "roc_momentum",
    },
    olap: {
        "tpch_q18",
        "cohort_ltv",
    },
    graph: {
        "frequent_pairs",
        "triangle_count",
    },
}
ALL_Q = {
    **llm_next3.QUERIES_NEXT,
    **stream_next3.QUERIES_NEXT,
}
ALL_O = {
    **llm_next3.ORACLE_NEXT,
    **stream_next3.ORACLE_NEXT,
}


def test_every_new_key_has_an_oracle():
    assert set(ALL_Q) == set(ALL_O)  # every staged key fully oracled
    for mod, keys in MOVED_KEYS.items():
        assert keys <= set(mod.QUERIES) & set(mod.ORACLE), mod.__name__


@pytest.mark.parametrize("key", sorted(ALL_Q))
def test_new_key_parity(spark, key):
    df = ALL_Q[key](spark, SF_ORACLE)
    assert_gradable_schema(df, key)
    assert df.count() > 0, f"{key}: empty result"
    compare(df, duckdb_run(ALL_O[key], SF_ORACLE))


def test_stratified_sample_exact_quotas(spark):
    """Exactly min(K, |stratum|) rows per lang, ranks dense from 1,
    and selection is by the hash total order (re-running yields the
    identical set — determinism is the point)."""
    out = llm_next3.QUERIES_NEXT["stratified_sample"](spark, SF_ORACLE)
    rows = out.collect()
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    sizes = {
        r["lang"]: r["n"]
        for r in docs.filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["sample_rank"])
    assert set(by_lang) == set(sizes)
    for lang, ranks in by_lang.items():
        want = min(llm_next3._STRAT_K, sizes[lang])
        assert sorted(ranks) == list(range(1, want + 1)), lang
    again = sorted(
        (r["lang"], r["doc_id"])
        for r in llm_next3.QUERIES_NEXT["stratified_sample"](spark, SF_ORACLE).collect()
    )
    assert again == sorted((r["lang"], r["doc_id"]) for r in rows)


def test_stream_quantile_equals_batch(spark):
    """streaming == batch for the histogram sketch: identical output
    to quantile_rollup (shared estimator, stream-accumulated bins)."""

    got = sorted(
        map(tuple, stream_next3.QUERIES_NEXT["stream_quantile"](spark, SF_ORACLE).collect()),
        key=str,
    )
    want = sorted(
        map(tuple, olap.QUERIES["quantile_rollup"](spark, SF_ORACLE).collect()),
        key=str,
    )
    assert got == want


def test_decayed_revenue_cte_surface_agrees(spark):
    """The WITH RECURSIVE formulation (Spark 4's recursive CTE — the
    oracle text) and the grouped decimal fold produce identical
    trajectories; the fold is the shipped plan because UnionLoop
    schedules one join job per recursion step (r6 bench: 15.7s →
    0.4s at sf0.1)."""
    from stock_data_project_spark.catalog import register_views
    from stock_data_project_spark.plans.sql_api import _DECAYED_SQL, QUERIES

    fold = sorted(map(tuple, QUERIES["sql_decayed_revenue"](spark, SF_SMOKE).collect()))
    register_views(spark, SF_SMOKE)
    cte = sorted(map(tuple, spark.sql(_DECAYED_SQL).collect()))
    assert fold == cte


def test_topk_rollup_containment_and_bounds(spark):
    """The space-saving-merge guarantees: every TRUE global heavy
    hitter appears in the merged rollup, every merged count is a
    lower bound on the true global count, and the output is
    partition-layout-independent (the MG candidate set varies with
    layout; the exact recount + threshold must erase that)."""
    rows = llm_next3.QUERIES_NEXT["topk_rollup"](spark, SF_ORACLE).collect()
    merged = {r["token"]: r["n"] for r in rows if r["is_total"]}
    truth = duckdb_run(
        r"""
        WITH toks AS (
            SELECT unnest(string_split(
                regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
            FROM documents WHERE text IS NOT NULL
        ), f AS (
            SELECT token, count(*) AS n FROM toks
            WHERE token <> '' GROUP BY token
        ), t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM f)
        SELECT token, n FROM f CROSS JOIN t
        """,
        SF_ORACLE,
    ).set_index("token")["n"]
    global_total = truth.sum()
    for token, n_true in truth.items():
        if n_true >= global_total * llm_next3._TK_FRACTION:
            assert token in merged, f"global heavy hitter {token!r} missing"
    for token, bound in merged.items():
        assert bound <= truth[token], (token, bound, truth[token])

    # layout independence: same result from a 3-partition salted shuffle
    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.operators.sketches import heavy_hitters_by_key

    docs = load_table(spark, SF_ORACLE, "documents").filter(F.col("text").isNotNull())
    a = sorted(
        map(tuple, heavy_hitters_by_key(docs, "source", llm_next3._TK_FRACTION).collect())
    )
    b = sorted(
        map(
            tuple,
            heavy_hitters_by_key(
                docs.repartition(3, F.col("doc_id") % 7), "source", llm_next3._TK_FRACTION
            ).collect(),
        )
    )
    assert a == b


def test_ema_cross_tracks_float_ema(spark):
    """The decimal trajectory stays within accumulated-rounding
    distance of the reference float EWM (adjust=False) — the decimal
    discipline buys oracle parity, not different indicator semantics
    — and signals fire exactly at sign flips."""
    import pandas as pd

    rows = indicators.q_ema_cross(spark, SF_ORACLE).collect()
    by_series: dict[str, list] = {}
    for r in rows:
        by_series.setdefault(r["series_key"], []).append(r)
    assert by_series
    for series, rs in by_series.items():
        rs.sort(key=lambda r: r["rn"])
        closes = duckdb_run(
            f"""
            SELECT arg_max(value, ts) AS close
            FROM events WHERE event_type = '{series}'
            GROUP BY date_trunc('day', ts)
            ORDER BY date_trunc('day', ts)
            """,
            SF_ORACLE,
        )["close"].round(6)
        ref_fast = closes.ewm(alpha=0.2, adjust=False).mean()
        ref_slow = closes.ewm(alpha=0.05, adjust=False).mean()
        n = len(rs)
        assert len(closes) == n, series
        for i, r in enumerate(rs):
            assert abs(r["ema_fast"] - ref_fast.iloc[i]) < 1e-4, (series, i)
            assert abs(r["ema_slow"] - ref_slow.iloc[i]) < 1e-4, (series, i)
        prev_sign = None
        for r in rs:
            sign = (r["ema_fast"] > r["ema_slow"]) - (r["ema_fast"] < r["ema_slow"])
            want = sign if (prev_sign is not None and sign != prev_sign) else 0
            assert r["cross_signal"] == want, (series, r["rn"])
            prev_sign = sign
