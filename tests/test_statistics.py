"""Invariants of the series-statistics keys (plans/statistics.py)
that oracle parity alone does not assert: numpy / textbook / pure-
Python replays of each statistic, decimal-width bounds, the Holt and
Holt-Winters folds on constructed frames, and the cusum alarm mix.
Value parity of every key, its graded schema and a non-empty result
are ``test_oracle_parity`` at sf0.01; the sf0.001 compares kept here
reach cases sf0.01 does not."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from stock_data_project_spark.plans import statistics
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import (
    assert_gradable_schema,
    avg_ranks,
    compare,
    duckdb_run,
)


def test_every_key_is_oracled():
    assert set(statistics.QUERIES) == set(statistics.ORACLE)


# Each key's sf0.001 oracle holds a case its sf0.01 oracle does not;
# the lambda asserts the case is still there, so a regenerated fixture
# that loses it fails here instead of silently dropping the coverage.
SMOKE_ONLY_CASES = {
    # a series with tau_b exactly 0 (concordant == discordant): the
    # "+ 0.0" signed-zero normalization at an exact zero
    "kendall_tau": lambda want: (want["tau_b"] == 0).any(),
    # trend_strength clamped to 0 by max(0, ·)
    "seasonality_strength": lambda want: (want["trend_strength"] == 0).any(),
}


@pytest.mark.parametrize("key", sorted(SMOKE_ONLY_CASES))
def test_smoke_scale_parity(spark, key):
    want = duckdb_run(statistics.ORACLE[key], SF_SMOKE)
    assert SMOKE_ONLY_CASES[key](want), f"{key}: sf0.001 lost its case"
    df = statistics.QUERIES[key](spark, SF_SMOKE)
    assert_gradable_schema(df, key)
    compare(df, want)


def test_acf_centered_magnitude_bound(spark):
    """The DECIMAL(15,6) Spark-side cast for d (and the oracle's
    (19,6) twin) relies on |d| staying far from the width limit —
    assert the actual magnitude (largest seen so far ~1e3, bound
    1e8 leaves 10 bits of headroom before the cast could throw
    under ANSI)."""
    import pyspark.sql.functions as F

    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.operators.returns import with_daily_return
    from stock_data_project_spark.operators.series import daily_bars

    for sf in (SF_SMOKE, SF_ORACLE):
        bars = with_daily_return(daily_bars(load_table(spark, sf, "events")))
        (mx,) = (
            bars.agg(F.max(F.abs(F.col("daily_return")))).collect()[0]
        )
        assert mx is not None and mx < 1e8, mx


def test_acf_lag1_matches_numpy(spark):
    """Semantic pin vs an independent implementation: numpy's
    centered autocovariance ratio at lag 1 (to 6dp) on one series."""
    import numpy as np


    df = statistics.q_acf_returns(spark, SF_ORACLE).collect()
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/events.parquet')"
    )
    series = con.sql(
        """
        WITH bars AS (
            SELECT event_type AS sk, date_trunc('day', ts) AS d,
                   arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2
        )
        SELECT sk, round((close - lag(close) OVER w)
                         / nullif(lag(close) OVER w, 0), 6) AS r
        FROM bars WINDOW w AS (PARTITION BY sk ORDER BY d)
        ORDER BY sk, d
        """
    ).fetchall()
    by_key: dict[str, list[float]] = {}
    for sk, r in series:
        if r is not None:
            by_key.setdefault(sk, []).append(r)
    for row in df:
        r = np.array(by_key[row["series_key"]])
        d = r - round(r.mean(), 6)
        expect = round(float((d[1:] * d[:-1]).sum() / (d * d).sum()), 5)
        assert row["acf1"] is not None
        assert abs(round(row["acf1"], 5) - expect) <= 1e-5, (
            row["series_key"], row["acf1"], expect,
        )


def test_seasonal_decompose_edges_and_reconstruction(spark):
    """Trend/residual NULL exactly on the 3-row edges of each series;
    where defined, trend + seasonal + residual reconstructs close to
    within the two 6dp roundings."""
    import pyspark.sql.functions as F


    df = statistics.q_seasonal_decompose(spark, SF_ORACLE)
    from pyspark.sql import Window

    w = Window.partitionBy("series_key").orderBy("date")
    wd = Window.partitionBy("series_key").orderBy(F.desc("date"))
    r = (
        df.withColumn("rn", F.row_number().over(w))
        .withColumn("rrn", F.row_number().over(wd))
    )
    assert r.filter((F.col("rn") <= 3) & F.col("trend").isNotNull()).count() == 0
    assert r.filter((F.col("rrn") <= 3) & F.col("trend").isNotNull()).count() == 0
    assert (
        r.filter((F.col("rn") > 3) & (F.col("rrn") > 3) & F.col("trend").isNull())
        .count()
        == 0
    )
    # reconstruction: |close − (trend + seasonal + residual)| ≤ 1e-6
    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.operators.series import daily_bars

    bars = daily_bars(load_table(spark, SF_ORACLE, "events")).select(
        "series_key", "date", "close"
    )
    joined = df.filter(F.col("residual").isNotNull()).join(
        bars, ["series_key", "date"]
    )
    bad = joined.filter(
        F.abs(
            F.col("close")
            - (F.col("trend") + F.col("seasonal") + F.col("residual"))
        )
        > 1e-6
    ).count()
    assert bad == 0


def test_holt_forecast_flat_series_is_fixpoint(spark):
    """Semantic pin: on a constant series the smoother is a fixpoint —
    level = x, trend = 0, forecast = x at every step."""
    from decimal import Decimal

    import pandas as pd

    # reuse the fold through the public plan by faking bars: easier to
    # drive the kernel directly on a constant frame

    pdf = pd.DataFrame(
        {
            "series_key": ["k"] * 10,
            "date": pd.date_range("2024-01-01", periods=10, tz="UTC"),
            "rn": list(range(1, 11)),
            "c_d": [Decimal("42.500000")] * 10,
        }
    )
    sdf = spark.createDataFrame(pdf).selectExpr(
        "series_key", "date", "rn", "CAST(c_d AS DECIMAL(18,6)) AS c_d"
    )
    # replicate the plan's post-fold projection inline
    import pyspark.sql.functions as F

    folded = sdf.groupBy("series_key").applyInPandas(
        statistics._holt_fold,
        "series_key string, date timestamp, lvl_d decimal(18,6), tr_d decimal(18,6)",
    )
    rows = folded.collect()
    assert len(rows) == 10
    for r in rows:
        assert float(r["lvl_d"]) == 42.5
        assert float(r["tr_d"]) == 0.0


def test_cusum_alarm_mix_is_nontrivial(spark):
    """The h=45 threshold must grade a real decision boundary — some
    alarms, not all or none (the all-145 regression this key shipped
    with at h=0.04 would be invisible to parity alone)."""
    import pyspark.sql.functions as F


    for sf in (SF_SMOKE, SF_ORACLE):
        df = statistics.q_cusum_anomaly(spark, sf)
        n = df.count()
        a = df.agg(F.sum("alarm")).collect()[0][0]
        assert 0 < a < n, (sf, a, n)


def test_cusum_semantics_manual(spark):
    """Independent replay of the fold on one series pulled via the
    oracle's own return construction."""
    from decimal import Decimal


    rows = (
        statistics.q_cusum_anomaly(spark, SF_ORACLE)
        .filter("series_key = 'click'")
        .orderBy("date")
        .collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/events.parquet')"
    )
    rets = con.sql(
        """
        WITH bars AS (
            SELECT date_trunc('day', ts) AS d, arg_max(value, ts) AS close
            FROM events WHERE event_type = 'click' GROUP BY 1
        )
        SELECT round((close - lag(close) OVER w) / nullif(lag(close) OVER w, 0), 6)
        FROM bars WINDOW w AS (ORDER BY d) ORDER BY d
        """
    ).fetchall()
    k, zero = Decimal("0.005"), Decimal("0")
    cp = cn = zero
    expected = []
    for (r,) in rets:
        if r is None:
            continue
        rd = Decimal(str(r))
        cp = max(zero, cp + (rd - k))
        cn = max(zero, cn - (rd + k))
        expected.append((float(cp), float(cn)))
    assert len(rows) == len(expected)
    for row, (ecp, ecn) in zip(rows, expected):
        assert abs(row["cusum_pos"] - ecp) < 1e-9
        assert abs(row["cusum_neg"] - ecn) < 1e-9


def test_theil_sen_matches_numpy(spark):
    """Independent implementation pin: numpy median of all pairwise
    slopes (rounded 6dp like the plan), to 5dp."""
    import numpy as np


    rows = {
        r["series_key"]: r
        for r in statistics.q_theil_sen_slope(spark, SF_ORACLE).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/events.parquet')"
    )
    series = con.sql(
        """
        SELECT event_type, arg_max(value, ts) AS close
        FROM events GROUP BY event_type, date_trunc('day', ts)
        ORDER BY event_type, date_trunc('day', ts)
        """
    ).fetchall()
    by_key: dict[str, list[float]] = {}
    for k, c in series:
        by_key.setdefault(k, []).append(c)
    for k, closes in by_key.items():
        c = np.array(closes)
        slopes = []
        for i in range(len(c)):
            for j in range(i + 1, len(c)):
                slopes.append(round((c[j] - c[i]) / (j - i), 6))
        expect = float(np.median(np.array(slopes)))
        got = rows[k]["sen_slope"]
        assert rows[k]["n_pairs"] == len(slopes)
        assert abs(got - expect) < 1e-5, (k, got, expect)


def test_spearman_matches_numpy(spark):
    """Independent rho: Pearson of average ranks via numpy, to 6dp
    (the plan's arithmetic is exact; corrcoef's double path agrees far
    below the comparison tolerance)."""
    rows = {
        r["series_key"]: r for r in statistics.q_spearman_corr(spark, SF_ORACLE).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_ORACLE}/events.parquet')"
    )
    bars = con.sql(
        """SELECT event_type, date_trunc('day', ts) AS d,
                  arg_max(value, ts) AS close, count(*) AS volume
           FROM events GROUP BY 1, 2"""
    ).df()
    for key, gr in bars.groupby("event_type"):
        rx = avg_ranks(gr["close"].to_numpy(dtype=np.float64))
        ry = avg_ranks(gr["volume"].to_numpy(dtype=np.float64))
        rho = float(np.corrcoef(rx, ry)[0, 1])
        row = rows[key]
        assert row["n_days"] == len(gr)
        assert -1.0 <= row["rho_spearman"] <= 1.0
        assert abs(row["rho_spearman"] - rho) < 1e-6, (key, row["rho_spearman"], rho)


def test_kendall_tau_matches_textbook(spark):
    """Independent tau-b: O(n²) concordance loop + tie corrections in
    numpy on the real bars, exact counts and 1e-9 on tau."""
    rows = {
        r["series_key"]: r for r in statistics.q_kendall_tau(spark, SF_ORACLE).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_ORACLE}/events.parquet')"
    )
    bars = con.sql(
        """SELECT event_type, date_trunc('day', ts) AS d,
                  arg_max(value, ts) AS close, count(*) AS volume
           FROM events GROUP BY 1, 2 ORDER BY 1, 2"""
    ).df()
    for key, gr in bars.groupby("event_type"):
        x = gr["close"].to_numpy()
        y = gr["volume"].to_numpy()
        n = len(x)
        c = d = 0
        for i in range(n):
            for j in range(i + 1, n):
                s = np.sign(x[j] - x[i]) * np.sign(y[j] - y[i])
                c += s > 0
                d += s < 0
        n0 = n * (n - 1) // 2
        _, tcx = np.unique(x, return_counts=True)
        _, tcy = np.unique(y, return_counts=True)
        n1 = int((tcx * (tcx - 1) // 2).sum())
        n2 = int((tcy * (tcy - 1) // 2).sum())
        tau = (c - d) / np.sqrt(float((n0 - n1) * (n0 - n2)))
        row = rows[key]
        assert row["concordant"] == c and row["discordant"] == d
        assert abs(row["tau_b"] - tau) < 1e-6, (key, row["tau_b"], tau)


def test_holt_winters_periodic_series_is_fixpoint():
    """A perfectly period-7 series with zero-sum seasonal pattern is
    an exact fixpoint of the fold: level stays at the base, trend at
    0, and fitted reproduces the actuals exactly."""
    from decimal import Decimal

    import pandas as pd

    pattern = [Decimal(s) for s in ("3", "-2", "1", "0", "-1", "2", "-3")]
    base = Decimal("100.000000")
    n = 28
    pdf = pd.DataFrame(
        {
            "series_key": ["k"] * n,
            "date": pd.date_range("2024-01-01", periods=n),
            "rn": range(1, n + 1),
            "c_d": [base + pattern[i % 7] for i in range(n)],
        }
    )
    out = statistics._hw_fold(pdf)
    assert len(out) == n - 7
    for _, r in out.iterrows():
        assert r["lvl_d"] == base
        assert r["tr_d"] == 0
    fits = list(out["fit_d"])
    for i, f in enumerate(fits):
        assert f == base + pattern[(i + 7) % 7]


def test_holt_winters_short_series_emits_nothing(spark):
    """Series below period+1 bars emit zero rows, and the EMPTY
    applyInPandas output keeps the input dtypes (the empty-output
    Arrow class, scalar-column variant) — under BOTH Arrow settings
    (the driver session runs Arrow-off)."""
    old = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "true")
    try:
        for arrow in ("true", "false"):
            spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", arrow)
            src = spark.createDataFrame(
                [
                    ("a", f"2024-01-{d:02d} 00:00:00", d, float(d))
                    for d in range(1, 6)
                ],
                "series_key string, date string, rn int, close double",
            ).selectExpr(
                "series_key",
                "CAST(date AS TIMESTAMP) date",
                "rn",
                "CAST(close AS DECIMAL(18,6)) c_d",
            )
            out = src.groupBy("series_key").applyInPandas(
                statistics._hw_fold,
                "series_key string, date timestamp, lvl_d decimal(18,6),"
                " tr_d decimal(18,6), seas_d decimal(18,6), fit_d decimal(18,6)",
            )
            assert out.count() == 0
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", old)


def _returns_by_series(sf: str) -> dict[str, np.ndarray]:
    """6dp daily returns per series, exactly as the plans derive them."""
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')")
    df = con.sql(
        """
        WITH bars AS (
            SELECT event_type AS sk, date_trunc('day', ts) AS d,
                   arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
        ret AS (
            SELECT sk, d, round((close - lag(close) OVER w)
                                / nullif(lag(close) OVER w, 0), 6) AS r
            FROM bars WINDOW w AS (PARTITION BY sk ORDER BY d))
        SELECT sk, d, r FROM ret WHERE r IS NOT NULL ORDER BY sk, d
        """
    ).df()
    return {k: g["r"].to_numpy(dtype=np.float64) for k, g in df.groupby("sk")}


def test_runs_test_matches_textbook(spark):
    rows = {
        r["series_key"]: r
        for r in statistics.q_runs_test(spark, SF_ORACLE).collect()
    }
    for key, r in _returns_by_series(SF_ORACLE).items():
        r = r[r != 0.0]
        sgn = (r > 0).astype(int)
        runs = 1 + int((sgn[1:] != sgn[:-1]).sum())
        n1, n2, n = int(sgn.sum()), int((1 - sgn).sum()), len(sgn)
        mu = 1.0 + 2.0 * n1 * n2 / n
        var = (2.0 * n1 * n2 * (2.0 * n1 * n2 - n)) / (n * n * (n - 1.0))
        z = (runs - mu) / math.sqrt(var)
        row = rows[key]
        assert (row["n_pos"], row["n_neg"], row["n_runs"]) == (n1, n2, runs)
        assert abs(row["z_runs"] - z) < 1e-6, (key, row["z_runs"], z)
        # the 2^53 exactness window the docstring promises
        assert 2.0 * n1 * n2 * (2.0 * n1 * n2 + n) < 2**53


def test_ljung_box_matches_numpy(spark):
    rows = {
        r["series_key"]: r
        for r in statistics.q_ljung_box(spark, SF_ORACLE).collect()
    }
    for key, r in _returns_by_series(SF_ORACLE).items():
        n = len(r)
        d = r - r.mean()
        q = 0.0
        for k in (1, 2, 3):
            rho = float((d[k:] * d[:-k]).sum() / (d * d).sum())
            q += rho * rho / (n - k)
        q *= n * (n + 2.0)
        row = rows[key]
        assert row["n_obs"] == n
        # the plan centers on the 6dp-rounded mean; numpy on the raw
        # mean — agreement to 1e-4 pins the statistic, not the bits
        assert abs(row["q_lb"] - q) < 1e-4 * max(1.0, abs(q)), (key, row["q_lb"], q)


def test_jarque_bera_matches_numpy(spark):
    rows = {
        r["series_key"]: r
        for r in statistics.q_jarque_bera(spark, SF_ORACLE).collect()
    }
    for key, r in _returns_by_series(SF_ORACLE).items():
        n = len(r)
        m = r.mean()
        d = r - m
        m2, m3, m4 = (d**2).mean(), (d**3).mean(), (d**4).mean()
        skew = m3 / m2**1.5
        kurt = m4 / m2**2 - 3.0
        jb = n / 6.0 * (skew**2 + kurt**2 / 4.0)
        row = rows[key]
        assert abs(row["skewness"] - skew) < 1e-5 * max(1.0, abs(skew))
        assert abs(row["ex_kurtosis"] - kurt) < 1e-5 * max(1.0, abs(kurt))
        assert abs(row["jb_stat"] - jb) < 1e-4 * max(1.0, abs(jb))
        # decimal-width bounds the module docstring promises
        u = np.round(r * 1e6)
        assert np.abs(u).max() < 2e9
        assert (u.astype(object) ** 4).sum() < 10**38


def test_sharpe_sortino_matches_numpy(spark):
    rows = {
        r["series_key"]: r
        for r in statistics.q_sharpe_sortino(spark, SF_ORACLE).collect()
    }
    for key, r in _returns_by_series(SF_ORACLE).items():
        n = len(r)
        mean = r.mean()
        std = r.std(ddof=1)
        ddev = math.sqrt(float((np.minimum(r, 0.0) ** 2).mean()))
        row = rows[key]
        assert row["n_obs"] == n
        assert abs(row["mean_return"] - mean) < 1e-6
        assert abs(row["return_std"] - std) < 1e-6 * max(1.0, std)
        assert abs(row["sharpe"] - math.sqrt(252.0) * mean / std) < 1e-5 * max(
            1.0, abs(row["sharpe"])
        )
        assert abs(row["sortino"] - math.sqrt(252.0) * mean / ddev) < 1e-5 * max(
            1.0, abs(row["sortino"])
        )


def test_hurst_matches_textbook(spark):
    """Independent R/S replay: per-block rescaled range with the
    population std, 6dp-rounded, exact-average over blocks — the
    plan's arithmetic replicated in numpy (same roundings, so the
    match is exact)."""
    rows = {
        r["series_key"]: r
        for r in statistics.q_hurst_exponent(spark, SF_ORACLE).collect()
    }
    for key, r in _returns_by_series(SF_ORACLE).items():
        row = rows[key]
        rss = {}
        for m in (8, 16):
            vals = []
            for b in range(len(r) // m):
                blk = r[b * m : (b + 1) * m]
                # D_k for k = 1..m (D_m = 0 exactly in the plan's
                # integer walk, so the 0 anchor is always present)
                dev = np.cumsum(blk - blk.mean())
                rng = float(dev.max() - dev.min())
                s = float(blk.std(ddof=0))
                if s > 0:
                    vals.append(round(rng / s, 6))
            rss[m] = sum(vals) / len(vals)
            assert row[f"n_blocks_{m}"] == len(vals)
        assert abs(row["rs8"] - rss[8]) < 2e-6
        assert abs(row["rs16"] - rss[16]) < 2e-6
        h = math.log(rss[16] / rss[8]) / math.log(2.0)
        assert abs(row["hurst"] - h) < 1e-4, (key, row["hurst"], h)


def test_variance_ratio_matches_numpy(spark):

    rows = {
        r["series_key"]: r
        for r in statistics.q_variance_ratio(spark, SF_ORACLE).collect()
    }
    q = 5
    for key, r in _returns_by_series(SF_ORACLE).items():
        rq = np.convolve(r, np.ones(q), mode="valid")
        vr = rq.var(ddof=1) / (q * r.var(ddof=1))
        n = len(r)
        z = (vr - 1.0) / math.sqrt(2.0 * (2 * q - 1) * (q - 1) / (3.0 * q * n))
        row = rows[key]
        assert row["n_obs"] == n and row["n_windows"] == len(rq)
        assert abs(row["vr"] - vr) < 1e-5 * max(1.0, vr), (key, row["vr"], vr)
        assert abs(row["z_vr"] - z) < 1e-4 * max(1.0, abs(z))


def test_seasonality_strength_matches_numpy(spark):
    """Independent replay: centered 7-day MA trend, per-dow seasonal
    mean of the detrended residue, variance ratios — numpy doubles
    agree with the plan's exact-decimal path to ~1e-5 (the plan's
    6dp roundings are the only divergence)."""
    import pandas as pd

    rows = {
        r["series_key"]: r
        for r in statistics.q_seasonality_strength(spark, SF_ORACLE).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_ORACLE}/events.parquet')"
    )
    bars = con.sql(
        """SELECT event_type AS sk, date_trunc('day', ts) AS d,
                  arg_max(value, ts) AS close,
                  CAST((epoch_us(date_trunc('day', ts)) // 86400000000) % 7 AS INT)
                      AS dow
           FROM events GROUP BY 1, 2 ORDER BY 1, 2"""
    ).df()
    for key, g in bars.groupby("sk"):
        c = g["close"].to_numpy(dtype=np.float64)
        trend = pd.Series(c).rolling(7, center=True).mean().to_numpy()
        det = c - trend
        dow = g["dow"].to_numpy()
        seas = np.array(
            [np.nanmean(det[dow == dw]) if np.isfinite(det[dow == dw]).any() else np.nan for dw in dow]
        )
        mask = np.isfinite(det)
        res = det[mask] - seas[mask]
        des = c[mask] - seas[mask]
        fs = max(0.0, 1.0 - res.var(ddof=1) / det[mask].var(ddof=1))
        ft = max(0.0, 1.0 - res.var(ddof=1) / des.var(ddof=1))
        row = rows[key]
        assert row["n_obs"] == int(mask.sum())
        assert abs(row["seasonal_strength"] - fs) < 1e-4, (key, row["seasonal_strength"], fs)
        assert abs(row["trend_strength"] - ft) < 1e-4


def _spark_returns_by_series(spark, sf):
    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.operators.returns import with_daily_return
    from stock_data_project_spark.operators.series import daily_bars

    bars = with_daily_return(daily_bars(load_table(spark, sf, "events")))
    rows = (
        bars.filter(F.col("daily_return").isNotNull())
        .select("series_key", "date", F.round("daily_return", 6).alias("r"))
        .orderBy("series_key", "date")
        .collect()
    )
    series: dict[str, list[float]] = {}
    for row in rows:
        series.setdefault(row.series_key, []).append(float(row.r))
    return series


def test_changepoint_matches_numpy_replay(spark):
    """Independent pin: per series, argmax_k |n·S_k − k·S_n| over the
    interior (ties → smallest k) and the Brownian-bridge statistic
    D_max/(n·σ̂·√n) recomputed with numpy from the rounded returns."""
    series = _spark_returns_by_series(spark, SF_ORACLE)
    got = {
        r.series_key: r
        for r in statistics.q_changepoint_detect(spark, SF_ORACLE).collect()
    }
    assert set(got) == set(series)
    for key, rs in series.items():
        n = len(rs)
        s = np.cumsum(np.asarray(rs, dtype=np.float64))
        ks = np.arange(1, n + 1)
        d = np.abs(n * s - ks * s[-1])[:-1]  # interior k = 1..n-1
        if n < 2:
            assert got[key].cp_k is None
            continue
        # D values are multiples of 1e-6 (exact decimals); float replay
        # noise is ~1e-10, so an 8dp round restores exact ties before
        # argmax (first occurrence == smallest k, the engine's order)
        k_star = int(np.argmax(np.round(d, 8))) + 1
        assert got[key].cp_k == k_star
        var = float(np.var(np.asarray(rs), ddof=1)) if n > 1 else 0.0
        if var > 0:
            expect = float(d[k_star - 1]) / (n * math.sqrt(var) * math.sqrt(n))
            assert got[key].cp_stat == pytest.approx(expect, abs=2e-5)
        assert got[key].cp_dmax == pytest.approx(float(d[k_star - 1]), abs=2e-4)


def test_lead_lag_matches_numpy_replay(spark):
    """Independent pin: the ±2-lag Pearson profile recomputed with
    numpy on the aligned (date-joined) return arrays; lag 0 must also
    agree with the established return_correlation key."""
    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.operators.returns import with_daily_return
    from stock_data_project_spark.operators.series import daily_bars

    bars = with_daily_return(daily_bars(load_table(spark, SF_ORACLE, "events")))
    rows = (
        bars.filter(F.col("daily_return").isNotNull())
        .select("series_key", "date", F.round("daily_return", 6).alias("r"))
        .collect()
    )
    by_series: dict[str, dict] = {}
    for row in rows:
        by_series.setdefault(row.series_key, {})[row.date] = float(row.r)
    order: dict[str, list] = {
        k: sorted(v) for k, v in by_series.items()
    }
    got = statistics.q_lead_lag_corr(spark, SF_ORACLE).collect()
    assert got
    checked = 0
    for row in got:
        a, b, lag = row.key_a, row.key_b, row.lag
        dates_b = order[b]
        # y(t) = r_b at position(t)+lag within b's own date order
        pos_b = {d: i for i, d in enumerate(dates_b)}
        xs, ys = [], []
        for d, x in by_series[a].items():
            if d not in pos_b:
                continue
            j = pos_b[d] + lag
            if 0 <= j < len(dates_b):
                xs.append(x)
                ys.append(by_series[b][dates_b[j]])
        assert row.n_obs == len(xs)
        if len(xs) >= 2 and np.std(xs) > 0 and np.std(ys) > 0:
            expect = float(np.corrcoef(xs, ys)[0, 1])
            assert row.xcorr == pytest.approx(expect, abs=2e-5)
            checked += 1
    assert checked > 0


def test_changepoint_constant_series_guard_both_engines(spark):
    """Constant-return series: the variance expression's double dust
    can land below zero, and DuckDB HARD-ERRORS on sqrt(negative)
    while Spark returns NaN. The greatest(0, .) guard must make the
    shared expression evaluate without error and IDENTICALLY on both
    engines (NULL via nullif, or exact 0/0-free division)."""
    import duckdb

    from stock_data_project_spark.plans.statistics import _CP_STAT

    sql = (
        f"SELECT round({_CP_STAT}, 6) + 0.0 AS cp_stat FROM ("
        "SELECT CAST(0.0 AS DOUBLE) dmax, CAST(3 AS BIGINT) n_obs, "
        "CAST(3e-6 AS DOUBLE) s1, CAST(3e-12 AS DOUBLE) s2) g"
    )
    spark_val = spark.sql(sql).collect()[0].cp_stat
    duck_val = duckdb.sql(sql).fetchone()[0]  # must not raise
    assert spark_val == duck_val or (spark_val is None and duck_val is None)


def test_parity_sf_dirs_stay_on_exact_pair_path(spark):
    """theil_sen_slope / kendall_tau oracle parity depends
    on every series in graded/swept data staying at or under
    operators/pairs.EXACT_MAX rows — past it the plan switches to the
    sampled-pair estimator the DuckDB oracle does NOT replay. Pin the
    boundary so a testdata regeneration with a longer calendar fails
    loudly here instead of as a silent sweep hash-mismatch."""
    from pyspark.sql import functions as F

    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.operators.pairs import EXACT_MAX
    from stock_data_project_spark.operators.series import daily_bars_rn

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
               "/root/testdata/sf0.1"):
        (mx,) = (
            daily_bars_rn(load_table(spark, sf, "events"))
            .groupBy("series_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n"))
            .collect()[0]
        )
        assert mx <= EXACT_MAX, (
            f"{sf}: max per-series bars {mx} > EXACT_MAX={EXACT_MAX} — "
            "the sampled pair path would desync the DuckDB oracle"
        )
