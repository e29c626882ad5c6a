"""Invariants of the technical-indicator keys (plans/indicators.py)
that oracle parity alone does not assert: output types, bounds,
textbook replays, and the decimal recurrences driven on constructed
frames. Value parity of every key, its graded schema and a non-empty
result are ``test_oracle_parity`` at sf0.01."""

from __future__ import annotations

import pytest

from stock_data_project_spark.plans import indicators
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_every_key_is_oracled():
    assert set(indicators.QUERIES) == set(indicators.ORACLE)


def test_obv_is_exact_integer(spark):
    """OBV is pure integer arithmetic — assert the output type stays
    BIGINT (a silent float upcast would reintroduce rounding)."""
    df = indicators.q_obv(spark, SF_ORACLE)
    assert dict(df.dtypes)["obv"] == "bigint"


def test_stochastic_bounded(spark):
    """%K is bounded to [0, 100] wherever defined."""
    from pyspark.sql import functions as F

    df = indicators.q_stochastic(spark, SF_ORACLE)
    bad = df.filter(
        F.col("pct_k").isNotNull() & ((F.col("pct_k") < 0) | (F.col("pct_k") > 100))
    )
    assert bad.count() == 0


def test_cci_matches_pandas_reference(spark):
    """The self-join mean-deviation must equal the textbook rolling
    CCI (pandas rolling mean + mad-from-current-sma) to rounding."""
    import numpy as np

    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.operators.series import daily_bars_rn

    bars = (
        daily_bars_rn(load_table(spark, SF_ORACLE, "events"))
        .orderBy("series_key", "rn")
        .toPandas()
    )
    got = (
        indicators.q_cci(spark, SF_ORACLE)
        .orderBy("series_key", "date")
        .toPandas()
        .set_index(["series_key", "date"])["cci"]
    )
    for key, grp in bars.groupby("series_key"):
        tp = (grp["high"] + grp["low"] + grp["close"]) / 3.0
        sma = tp.rolling(20, min_periods=1).mean()
        for t in range(len(grp)):
            lo = max(0, t - 19)
            md = float(np.mean(np.abs(tp.iloc[lo : t + 1] - sma.iloc[t])))
            want = (
                None
                if md == 0
                else (tp.iloc[t] - sma.iloc[t]) / (0.015 * md)
            )
            have = got[(key, grp["date"].iloc[t])]
            if want is None:
                assert have is None or np.isnan(have)
            else:
                assert abs(have - want) < 1e-3, (key, t, have, want)


def test_ultimate_oscillator_bounded(spark):
    """bp/tr ∈ [0, tr] per row ⇒ every ratio ∈ [0,1] ⇒ UO ∈ [0,100]."""
    import pyspark.sql.functions as F

    df = indicators.q_ultimate_oscillator(spark, SF_SMOKE)
    bad = df.filter((F.col("uo") < 0) | (F.col("uo") > 100)).count()
    assert bad == 0


def test_vortex_nonnegative(spark):
    import pyspark.sql.functions as F

    df = indicators.q_vortex(spark, SF_SMOKE)
    assert df.filter((F.col("vi_plus") < 0) | (F.col("vi_minus") < 0)).count() == 0


def test_ichimoku_displaced_edges_are_null(spark):
    """senkou A/B are lag(10) → NULL on the first 10 rows per series;
    chikou is lead(10) → NULL on the last 10."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    df = indicators.q_ichimoku(spark, SF_SMOKE)
    w = Window.partitionBy("series_key").orderBy("date")
    wd = Window.partitionBy("series_key").orderBy(F.desc("date"))
    r = (
        df.withColumn("rn", F.row_number().over(w))
        .withColumn("rrn", F.row_number().over(wd))
    )
    assert r.filter((F.col("rn") <= 10) & F.col("senkou_a").isNotNull()).count() == 0
    assert r.filter((F.col("rn") > 10) & F.col("senkou_a").isNull()).count() == 0
    assert r.filter((F.col("rrn") <= 10) & F.col("chikou").isNotNull()).count() == 0


def test_heikin_ashi_flat_series_collapses(spark, monkeypatch):
    """On a constant-OHLC series every HA value equals the price: the
    recurrence fixpoint check (also exercises first-row init)."""
    import datetime as dt

    rows = [
        ("flat", dt.datetime(2024, 1, 1) + dt.timedelta(days=i), float(i), 42.5)
        for i in range(12)
    ]
    ev = spark.createDataFrame(
        [(k, t, 42.5, i) for i, (k, t, _, v) in enumerate(rows)],
        "event_type string, ts timestamp, value double, event_id long",
    )
    # drive the plan on the constructed events through its table read
    monkeypatch.setattr(indicators, "load_table", lambda s, d, t: ev)
    out = indicators.q_heikin_ashi(spark, "ignored").collect()
    for r in out:
        assert r.ha_open == pytest.approx(42.5)
        assert r.ha_high == pytest.approx(42.5)
        assert r.ha_low == pytest.approx(42.5)
        assert r.ha_close == pytest.approx(42.5)


def test_heikin_ashi_high_low_envelope(spark):
    """ha_high ≥ max(ha_open, ha_close) and ha_low ≤ min(...) by
    construction — the greatest/least layer can't invert."""
    import pyspark.sql.functions as F

    df = indicators.q_heikin_ashi(spark, SF_SMOKE)
    bad = df.filter(
        (F.col("ha_high") < F.greatest("ha_open", "ha_close"))
        | (F.col("ha_low") > F.least("ha_open", "ha_close"))
    ).count()
    assert bad == 0


def test_parabolic_sar_exercises_reversals(spark):
    """Both flip directions must occur on the graded data — a
    flip-free series would leave the reversal branches untested."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    df = indicators.q_parabolic_sar(spark, SF_ORACLE)
    w = Window.partitionBy("series_key").orderBy("date")
    flips = df.withColumn("pt", F.lag("trend").over(w)).filter(
        F.col("pt").isNotNull() & (F.col("pt") != F.col("trend"))
    )
    dirs = {r.trend for r in flips.select("trend").distinct().collect()}
    assert dirs == {1, -1}


def test_parabolic_sar_flat_series_never_reverses(spark, monkeypatch):
    """Constant bars: trend stays up (close2 >= close1), sar pins to
    the price, af never bumps — the recurrence fixpoint."""
    import datetime as dt

    ev = spark.createDataFrame(
        [
            ("flat", dt.datetime(2024, 1, 1) + dt.timedelta(days=i), 7.25, i)
            for i in range(10)
        ],
        "event_type string, ts timestamp, value double, event_id long",
    )
    monkeypatch.setattr(indicators, "load_table", lambda s, d, t: ev)
    out = indicators.q_parabolic_sar(spark, "ignored").collect()
    assert len(out) == 9
    for r in out:
        assert r.trend == 1
        assert r.psar == pytest.approx(7.25)


def test_parabolic_sar_stays_outside_price_range(spark):
    """Invariant: in an uptrend the SAR sits at/below the bar's low
    region only after clamping — concretely, sar <= high always and
    a reversal bar resets sar to the finished trend's extreme, which
    bounds sar within the series' [min low, max high]."""
    import pyspark.sql.functions as F

    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.operators.series import daily_bars_rn

    bars = daily_bars_rn(load_table(spark, SF_SMOKE, "events")).groupBy(
        "series_key"
    ).agg(
        F.min("low").alias("lo"), F.max("high").alias("hi")
    )
    df = indicators.q_parabolic_sar(spark, SF_SMOKE).join(bars, "series_key")
    bad = df.filter(
        (F.col("psar") < F.col("lo")) | (F.col("psar") > F.col("hi"))
    ).count()
    assert bad == 0
