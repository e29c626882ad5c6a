"""Late-r8-built keys staged for the r9 window (llm_next6,
stream_next6): the SAME value-level DuckDB comparison the driver
runs, plus each key's semantic pins. The indicator and OLAP-family
keys staged with them are checked once by
tests/test_oracle_parity.py."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from stock_data_project_spark.plans import (
    audits,
    graph,
    indicators,
    llm_next6,
    olap,
    stream_next6,
)
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import assert_gradable_schema, compare, duckdb_run

# Keys staged here that now live in the domain modules; their
# parity runs in tests/test_oracle_parity.py.
MOVED_KEYS = {
    indicators: {
        "trix",
        "adx",
    },
    olap: {
        "rfm_segmentation",
        "pareto_revenue",
    },
    graph: {
        "basket_lift",
    },
    audits: {
        "mad_outliers",
    },
}
ALL_Q = {
    **llm_next6.QUERIES_NEXT,
    **stream_next6.QUERIES_NEXT,
}
ALL_O = {
    **llm_next6.ORACLE_NEXT,
    **stream_next6.ORACLE_NEXT,
}


def test_every_new_key_is_oracled():
    assert set(ALL_Q) == set(ALL_O)
    for mod, keys in MOVED_KEYS.items():
        assert keys <= set(mod.QUERIES) & set(mod.ORACLE), mod.__name__


@pytest.mark.parametrize("key", sorted(ALL_Q))
def test_new_key_parity(spark, key):
    df = ALL_Q[key](spark, SF_ORACLE)
    assert_gradable_schema(df, key)
    assert df.count() > 0, f"{key}: empty result"
    compare(df, duckdb_run(ALL_O[key], SF_ORACLE))


# ------------------------------------------------------------ trix / adx


def _bars_pd(spark, sf_dir) -> pd.DataFrame:
    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.operators.series import daily_bars

    return (
        daily_bars(load_table(spark, sf_dir, "events"))
        .orderBy("series_key", "date")
        .toPandas()
    )


def test_trix_tracks_float_ewm(spark):
    """The exact-decimal fold must agree with the float triple-EWM
    (adjust=False) to rounding noise — the decimal trajectory is a
    6dp-quantized version of the float one, not a different
    indicator."""
    bars = _bars_pd(spark, SF_ORACLE)
    out = (
        indicators.q_trix(spark, SF_ORACLE)
        .orderBy("series_key", "date")
        .toPandas()
    )
    for key, grp in bars.groupby("series_key"):
        e1 = grp["close"].ewm(alpha=0.2, adjust=False).mean()
        e2 = e1.ewm(alpha=0.2, adjust=False).mean()
        e3 = e2.ewm(alpha=0.2, adjust=False).mean()
        ref = 100.0 * e3.diff() / e3.shift(1)
        got = out[out["series_key"] == key]["trix"].to_numpy()
        mask = ~np.isnan(ref.to_numpy())
        assert np.allclose(
            got[mask].astype(float), ref.to_numpy()[mask], atol=1e-3
        ), key


def test_adx_bounds_and_dx_identity(spark):
    out = indicators.q_adx(spark, SF_ORACLE).toPandas()
    for c in ("pdi", "mdi", "dx", "adx"):
        v = out[c].to_numpy(dtype=float)
        assert np.nanmin(v) >= 0.0 and np.nanmax(v) <= 100.0 + 1e-9, c
    # dx recomputes from the emitted pdi/mdi (the between-recurrence
    # layer is plain double arithmetic)
    denom = out["pdi"] + out["mdi"]
    expect = np.where(
        denom > 0, np.round(100.0 * np.abs(out["pdi"] - out["mdi"]) / denom, 6), 0.0
    )
    assert np.allclose(out["dx"].to_numpy(dtype=float), expect, atol=1e-6)


def test_adx_trix_flat_series_zero_paths(spark, tmp_path):
    """A CONSTANT price series drives every division in adx through
    its zero-denominator path (s_tr = 0 → DI 0/0, DX 0/0) — a branch
    random testdata never exercises. Expect all-zero indicators, no
    ANSI error, and Spark/DuckDB agreement on the crafted input."""
    import duckdb
    import pandas as pd

    rows = []
    eid = 0
    for day in range(1, 8):
        for et in ("flat_a", "flat_b"):
            for hh in (9, 15):
                eid += 1
                rows.append(
                    (eid, pd.Timestamp(f"2024-02-{day:02d} {hh:02d}:00:00"), 7, et, 42.5, "{}")
                )
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/events.parquet")

    out = indicators.q_adx(spark, sf).toPandas()
    assert len(out) == 14  # 2 series × 7 days
    for c in ("pdi", "mdi", "dx", "adx"):
        assert (out[c] == 0.0).all(), c
    trix = indicators.q_trix(spark, sf).toPandas()
    got = trix["trix"].dropna()
    assert (got == 0.0).all()

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet/*.parquet')")
    for key, sdf in (("adx", out), ("trix", trix)):
        odf = con.sql(indicators.ORACLE[key]).df()
        assert len(odf) == len(sdf)
        num = [c for c in odf.columns if c not in ("series_key", "date")]
        s = sdf.sort_values(["series_key", "date"]).reset_index(drop=True)
        o = odf.sort_values(["series_key", "date"]).reset_index(drop=True)
        for c in num:
            pd.testing.assert_series_equal(
                s[c].astype(float), o[c].astype(float), check_names=False
            )


def test_decimal_fold_keys_run_with_arrow_disabled(spark):
    """applyInPandas always ships via Arrow, but the GRADING session
    sets arrow.pyspark.enabled=false — pin that trix/adx (and their
    toPandas-free plans) never depend on that flag."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert indicators.q_trix(spark, SF_SMOKE).count() > 0
        assert indicators.q_adx(spark, SF_SMOKE).count() > 0
    finally:
        spark.conf.set(key, old)


# ------------------------------------------------------------------ llm


def test_tfidf_retrieval_ranking_shape(spark):
    pdf = llm_next6.q_tfidf_retrieval(spark, SF_ORACLE).toPandas()
    assert (pdf["query_id"] % 100 == 0).all()
    assert (pdf["query_id"] != pdf["doc_id"]).all()
    for _, grp in pdf.groupby("query_id"):
        ranks = sorted(grp["rank"])
        assert ranks == list(range(1, len(ranks) + 1))
        by_rank = grp.sort_values("rank")["cosine"].to_numpy()
        assert (np.diff(by_rank) <= 1e-12).all()  # non-increasing
    assert pdf["cosine"].between(-1.000001, 1.000001).all()


def test_integer_halfup_average_identity():
    """The sign-safe branch logic of operators/rounding.exact_avg6
    (negate-then-floor, HALF_UP away from zero) == HALF_UP decimal
    division — the identity stream_sliding_avg / rfm_segmentation /
    mad_outliers / basket_lift / embedding_dim_stats rely on to keep
    round(p/q, 6) engine-independent (hypothesis over sums/counts,
    including the power-of-two counts that land exactly on ties,
    and NEGATIVE numerators — the r8 ADVICE sign-safety gap)."""
    from decimal import ROUND_HALF_UP, Decimal

    from hypothesis import given, strategies as st

    @given(
        units=st.integers(min_value=-(10**15), max_value=10**15),
        q=st.one_of(
            st.integers(min_value=1, max_value=10**6),
            st.sampled_from([1, 2, 4, 8, 16, 32, 64, 128]),
        ),
    )
    def check(units: int, q: int):
        # the exact CASE the helper emits on both engines (operands
        # kept non-negative so floor // == Spark's truncating div)
        if units < 0:
            got = -((-2 * units + q) // (2 * q))
        else:
            got = (2 * units + q) // (2 * q)
        want = (Decimal(units) / Decimal(q)).quantize(
            Decimal(1), ROUND_HALF_UP
        )
        assert got == int(want), (units, q)

    check()


def test_exact_avg6_spark_matches_duckdb(spark):
    """Drive the ACTUAL helper expressions (Spark column + DuckDB SQL)
    over crafted (units, count) pairs that include exact ties with
    negative and positive numerators, and assert bit-identical
    doubles."""
    import duckdb

    from stock_data_project_spark.operators.rounding import (
        exact_avg6_expr,
        exact_avg6_sql,
    )

    rows = [
        (1, 16),  # 0.0625e-6 band
        (5, 8),  # exact .5 tie in units: 5/8 = 0.625
        (-5, 8),
        (3, 2),  # 1.5 -> 2 (HALF_UP), -1.5 -> -2 (away from zero)
        (-3, 2),
        (10**15, 128),
        (-(10**15), 128),
        (0, 7),
        (999999500000, 1000000),  # 999999.5 units -> ties at 6dp
        (-999999500000, 1000000),
    ]
    sdf = spark.createDataFrame(rows, "p long, q long").select(
        "p", "q", exact_avg6_expr("p", "q").alias("avg6")
    )
    got = {(r["p"], r["q"]): r["avg6"] for r in sdf.collect()}
    con = duckdb.connect()
    expr = exact_avg6_sql("p", "q")
    for p, q in rows:
        (want,) = con.sql(
            f"SELECT {expr} FROM (SELECT CAST({p} AS BIGINT) p,"
            f" CAST({q} AS BIGINT) q)"
        ).fetchone()
        import struct

        assert struct.pack("<d", got[(p, q)]) == struct.pack("<d", want), (
            p,
            q,
            got[(p, q)],
            want,
        )


# ------------------------------------------------------------- streaming


def test_sliding_windows_cover_each_event_four_times(spark):
    """size/hop = 4: every event lands in exactly 4 windows, so the
    emitted n_events sum equals 4× the on-time event count (events
    whose LAST covering window survives the final-watermark cut
    contribute 4; partially-cut events contribute their surviving
    window count — checked against the oracle expansion)."""
    pdf = stream_next6.stream_sliding_avg(spark, SF_ORACLE).toPandas()
    expanded = duckdb_run(
        f"""
        WITH fw AS (SELECT max(ts) - INTERVAL 47 MINUTE AS final_wm FROM events)
        SELECT count(*) AS n FROM events, fw,
               (SELECT unnest([0,1,2,3]) AS k) k
        WHERE make_timestamp((epoch_us(ts) // 1800000000) * 1800000000
                             - CAST(k.k AS BIGINT) * 1800000000)
              + INTERVAL 2 HOUR <= final_wm
        """,
        SF_ORACLE,
    )["n"][0]
    assert pdf["n_events"].sum() == expanded
    # hop alignment: every start sits on a 30-minute boundary
    assert (pdf["window_start"].dt.minute % 30 == 0).all()
    assert (pdf["window_start"].dt.second == 0).all()


def test_funnel_stage_machine_on_crafted_user(spark):
    """Pin the strict-> advance semantics on a crafted sequence:
    click before any view is ignored; a purchase at the SAME ts as
    the qualifying click does not advance (needs ts > anchor)."""
    import pandas as pd

    rows = [
        # user 1: click@1 (ignored), view@2, click@3, purchase@3
        # (purchase ts == click anchor -> NOT stage 3), purchase@4 -> 3
        (1, pd.Timestamp("2024-01-01 00:00:01"), "click", 10),
        (1, pd.Timestamp("2024-01-01 00:00:02"), "view", 11),
        (1, pd.Timestamp("2024-01-01 00:00:03"), "click", 12),
        (1, pd.Timestamp("2024-01-01 00:00:03"), "purchase", 13),
        (1, pd.Timestamp("2024-01-01 00:00:04"), "purchase", 14),
        # user 2: purchase-only -> stage 0, NULL ts
        (2, pd.Timestamp("2024-01-01 00:00:05"), "purchase", 15),
    ]
    import duckdb

    con = duckdb.connect()
    con.register("ev", pd.DataFrame(rows, columns=["user_id", "ts", "event_type", "event_id"]))
    got = con.sql(
        stream_next6.ORACLE_NEXT["stream_funnel_state"].replace("events", "ev")
    ).df()
    got = got.set_index("user_id")
    assert got.loc[1, "funnel_stage"] == 3
    assert got.loc[1, "stage_ts"] == pd.Timestamp("2024-01-01 00:00:04")
    assert got.loc[2, "funnel_stage"] == 0
    assert pd.isna(got.loc[2, "stage_ts"])


def test_funnel_stage_counts_monotone(spark):
    pdf = stream_next6.stream_funnel_state(spark, SF_ORACLE).toPandas()
    # stage_ts present exactly for stage >= 1
    assert (pdf["stage_ts"].notna() == (pdf["funnel_stage"] >= 1)).all()
    # reaching stage k+1 is rarer than stage k (weakly)
    counts = pdf["funnel_stage"].value_counts()
    reached = [
        (pdf["funnel_stage"] >= k).sum() for k in (1, 2, 3)
    ]
    assert reached[0] >= reached[1] >= reached[2]
    assert counts.sum() == len(pdf)


def test_embedding_dim_stats_matches_numpy(spark):
    from stock_data_project_spark.catalog import load_table

    pdf = llm_next6.q_embedding_dim_stats(spark, SF_ORACLE).toPandas()
    emb = load_table(spark, SF_ORACLE, "embeddings").select("embedding").toPandas()
    m = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    assert len(pdf) == m.shape[1]
    pdf = pdf.sort_values("dim")
    assert np.allclose(pdf["mean_v"], m.mean(axis=0), atol=1e-4)
    assert np.allclose(pdf["std_v"], m.std(axis=0, ddof=1), atol=1e-4)
    assert np.allclose(pdf["min_v"], np.round(m.min(axis=0), 6), atol=1e-9)
    assert np.allclose(pdf["max_v"], np.round(m.max(axis=0), 6), atol=1e-9)
