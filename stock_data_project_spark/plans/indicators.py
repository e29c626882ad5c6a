"""Technical indicators over per-series daily bars.

The reference computes two derived metrics per ticker, daily return
and rolling volatility (fetch_stocks.py:213-216), and charts them
(streamlit/app.py). These keys are the dashboard indicators that grow
from the same daily-bars rollup. Every key is fully oracled. The
oracles start from ``operators/series.DAILY_BARS_SQL`` (``bars``) or
``DAILY_BARS_RN_SQL`` (``bars`` plus the per-series day index ``seq``),
the SQL twins of ``daily_bars``/``daily_bars_rn``.

Derived-from-rounded rule: any column computed FROM a rounded column
(atr from true_range, pct_d from pct_k, is_anomaly from zscore) reads
the rounded value on both sides, so the comparison stays exact.

Window indicators
-----------------
All are per-key window aggregates over the shared daily-bars rollup:
one hash shuffle on the series key, per-key sorted window state, zero
UDFs, codegen throughout (operators/indicators.py has the 100 TB
argument). The shapes hold at any raw event volume because
daily_bars aggregates first.

- ``atr``, ``stochastic`` (%K/%D), ``obv``, ``donchian``,
  ``zscore_anomaly`` (rolling z-score anomaly flags),
  ``pivot_points`` (floor pivots) and ``vwap`` (per-day volume-weighted
  average price) — the first ring of dashboard indicators.
- ``williams_r`` — Williams %R (stochastic %K mirrored to [-100, 0]).
- ``mfi`` — money-flow index: the volume-weighted RSI cousin; every
  term is a rolling sum of a row-local derived column, so the whole
  indicator rides the one per-key window shuffle.
- ``ulcer_index`` — downside-risk volatility (rolling-peak drawdown
  RMS), the decomposable member of the deviation-indicator family
  (mean-absolute-deviation indicators like CCI are NOT window-
  decomposable — documented in operators/indicators.py).
- ``linear_interp`` — the gap_fill key's missing half: linear
  interpolation between the previous and next observation on the
  calendar spine (gap_fill carries forward; interpolation needs the
  NEXT observation too, computed as a time-DESCENDING running
  ``last`` — the O(n) mirror of the forward carry, never an
  unboundedFollowing frame, which Spark executes O(n²) per key). The
  spine join broadcasts nothing and explodes only (series ×
  calendar-day) rows.
- ``roc_momentum`` — n-day rate of change and momentum: one lag
  window per series, try_divide/nullif for the zero-close guard
  (the pct_change idiom).
- ``aroon`` — Aroon up/down (n=14): 100·(n − periods-since-extreme)/n
  over a rows window. "Periods since the highest high" is an argmax
  POSITION inside the frame — computed as ``max(struct(value, rn))``
  (lexicographic struct comparison, ties → most recent; DuckDB's
  arg_max can't take a struct ORDER but plain max over a struct
  sorts identically in both engines), so the key is fully oracled
  with integer-exact arithmetic until the final ratio.
- ``cmf`` — Chaikin Money Flow (n=20): money-flow multiplier
  ((close−low)−(high−close))/(high−low) (flat bars contribute 0),
  volume-weighted and ratio-summed over the window.
- ``keltner`` — Keltner channel, SMA flavor (n=20, mult=2): center =
  SMA(typical price), band = ±2·SMA(true range). The EMA flavor
  belongs to the decimal-fold family (ema_cross); this is the
  window-only variant every engine can replay exactly.
- ``cci`` — Commodity Channel Index (n=20):
  (tp − SMA(tp)) / (0.015 · meandev) where meandev is the mean
  ABSOLUTE deviation of the window's typical prices from the CURRENT
  row's SMA. The deviation depends on the anchor row, so it is not a
  window aggregate of any per-row column — it's a bounded rn-range
  self-join (fan-out exactly n per row, the daily-bars grain keeps it
  tiny at any event volume), and the deviation average goes through
  6dp-rounded DECIMAL + the exact-integer HALF_UP mean
  (operators/rounding): a groupBy avg of doubles is summation-order-
  dependent across engines, unlike the frame-ordered window avgs the
  other indicators use. Flat windows (meandev = 0) yield NULL via
  try_divide/nullif on both engines; the ratio subtracts through
  zero → ``+ 0.0`` after the final round (the williams_r rule).
- ``force_index`` — Elder's Force Index, SMA flavor (n=13):
  fi = Δclose · volume, smoothed by a 13-row window average (the
  EMA flavor belongs to the decimal-fold family like ema_cross; the
  window variant is exactly engine-replayable). First row per series
  has no Δclose → NULL, and the window avg skips NULLs identically
  on both engines.
- ``ease_of_movement`` — Arms' EMV (n=14): distance moved = Δ of the
  high/low midpoint; box ratio = (volume / 1e8) / (high − low);
  EMV = distance/box, NULL on flat bars (try_divide / nullif), then
  a 14-row window average that skips the NULLs.
- ``ultimate_oscillator`` — Williams' Ultimate Oscillator over three
  horizons (7/14/28): buying pressure bp = close − min(low, prev
  close), true range tr = max(high, prev close) − min(low, prev
  close); UO = 100·(4·(Σbp7/Σtr7) + 2·(Σbp14/Σtr14) + Σbp28/Σtr28)/7.
  Window sums are the frame-ordered window-aggregate family (the
  same proven parity as bollinger/rolling_volatility); flat horizons
  (Σtr = 0) yield NULL via try_divide / nullif on both engines.
  First row per series has no prev close → the NULL lag is absorbed
  by NULL-skipping least/greatest identically on both engines (Spark
  F.least/F.greatest and DuckDB least/greatest both skip NULL
  arguments), so the first row contributes bp = close − low and
  tr = high − low on both sides.
- ``vortex`` — Vortex Indicator (n=14): VM+ = |high − prev low|,
  VM− = |low − prev high|, VI± = Σ(VM±, 14) / Σ(TR, 14) with the
  standard Wilder true range. Same window-sum family; try_divide /
  nullif for flat windows.
- ``ichimoku`` — Ichimoku Kinko Hyo, scaled to the 30-day synthetic
  calendar (tenkan 5, kijun 10, senkou-B 20, displacement 10; the
  classic 9/26/52-on-26 ratios don't fit a 30-bar series — the
  PERIODS are parameters, the construction is the indicator):
  tenkan/kijun/senkou-B are (window-max(high) + window-min(low))/2
  midpoints (integer-exact extrema, division is the only float op);
  senkou A/B arrive displaced FORWARD by 10 bars (lag), chikou is
  close displaced BACKWARD (lead). NULL rows at the displaced edges
  are identical on both engines.

Exact-decimal recurrences
-------------------------
An EMA-style carry reuses its own rounded output, so double arithmetic
lands on rounding boundaries within ~20 steps (CLAUDE.md); that is why
``macd``/``wilder_rsi`` (plans/bars.py) stay rows-only. The
``sql_decayed_revenue`` recipe removes the boundary class entirely:
run the recurrence in DECIMAL(18,6) with per-step HALF_UP rounding
(``operators/rounding.quantize6`` — exact, order-independent,
identical in Python decimal / Spark DECIMAL / DuckDB DECIMAL) and cast
to DOUBLE only at the end. The smoothing constants are EXACT decimals
(α = 2/(n+1) or 1/n chosen so α is a one-digit decimal — the
multiplier quantization IS the indicator definition here). Spark runs
a grouped applyInPandas fold (one shuffle on series_key, O(days)
sequential work per series, embarrassingly parallel across series);
the oracle replays it as a recursive CTE, which on Spark would
schedule one UnionLoop join job PER DAY (CLAUDE.md).

- ``ema_cross`` — fast (α=0.2) and slow (α=0.05) EMAs of the daily
  close, both carries in one recursive CTE. macd/wilder_rsi stay
  rows-only because their reference semantics are double EMAs
  (pandas parity). Crossover signals (+1 golden, −1 death) fall out
  of exact decimal sign comparisons — no float-boundary flake
  possible.
- ``trix`` — triple-EMA rate of change, n=9 → α = 0.2 exactly.
  Three chained decimal EMA recurrences per series; the final 1-day
  ROC is double math over identical decimal-cast inputs on both
  engines. ROC subtracts through zero → ``+ 0.0`` after the final
  round on BOTH sides (the williams_r signed-zero rule).
- ``adx`` — Welles Wilder's directional system (+DI/−DI/DX/ADX),
  n=10 → Wilder α = 1/n = 0.1 exactly. Two decimal recurrences
  (smoothed TR/+DM/−DM, then ADX = smoothed DX) with the DI/DX
  ratio layer BETWEEN them computed by each engine's native
  round(double, 6) — divisions never enter a recurrence, so every
  cross-engine rounding is the proven-parity operation.
- ``heikin_ashi`` — Heikin-Ashi candle transform: ha_close =
  (o+h+l+c)/4 (row-local), ha_open = (prev ha_open + prev
  ha_close)/2 — a recurrence that REUSES its own output, multiplying
  by the EXACT decimal constants 0.25/0.5 so no division ever enters
  the recurrence (DuckDB DECIMAL/DECIMAL division returns DOUBLE).
  ha_high/ha_low are row-local greatest/least in double over the
  decimal-cast carries.
- ``parabolic_sar`` — Wilder's Parabolic SAR, the branchy recurrence
  (see ``q_parabolic_sar``).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stock_data_project_spark.catalog import load_table
from stock_data_project_spark.operators.indicators import (
    with_atr,
    with_donchian,
    with_mfi,
    with_obv,
    with_pivot_points,
    with_stochastic,
    with_ulcer,
    with_williams_r,
    with_zscore,
)
from stock_data_project_spark.operators.rounding import (
    exact_avg6_expr,
    exact_avg6_sql,
    quantize6,
)
from stock_data_project_spark.operators.series import (
    DAILY_BARS_RN_SQL,
    DAILY_BARS_SQL,
    daily_bars,
    daily_bars_rn,
)


def _bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return daily_bars(load_table(spark, sf_dir, "events"))


# ----------------------------------------------------------------------
# atr · stochastic · obv · donchian · zscore_anomaly · pivot_points ·
# vwap

def q_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_atr(_bars(spark, sf_dir), window=14).select(
        "series_key", "date", "close", "true_range", "atr"
    )


def q_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_stochastic(_bars(spark, sf_dir), k_window=14, d_window=3).select(
        "series_key", "date", "close", "pct_k", "pct_d"
    )


def q_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_obv(_bars(spark, sf_dir)).select(
        "series_key", "date", "close", "volume", "obv"
    )


def q_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_donchian(_bars(spark, sf_dir), window=20).select(
        "series_key", "date", "close", "dc_upper", "dc_lower", "dc_mid"
    )


def q_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_zscore(_bars(spark, sf_dir), window=20, threshold=2.0).select(
        "series_key", "date", "close", "zscore", "is_anomaly"
    )


def q_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_pivot_points(_bars(spark, sf_dir)).select(
        "series_key", "date", "close", "pivot", "r1", "s1"
    )


def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (key, day) volume-weighted average price. ``events`` has no
    trade-size column, so the weight is a deterministic synthetic size
    derived from event_id (documented; the weighted-mean plumbing —
    one map-side-combinable shuffle, two partial sums — is the real
    operator). Weight ∈ [1, 97]."""
    ev = load_table(spark, sf_dir, "events")
    w = (F.col("event_id") % 97 + 1).alias("trade_size")
    return (
        ev.select(
            F.col("event_type").alias("series_key"),
            F.date_trunc("day", "ts").alias("date"),
            "value",
            w,
        )
        .groupBy("series_key", "date")
        .agg(
            F.round(
                F.sum(F.col("value") * F.col("trade_size")) / F.sum("trade_size"), 6
            ).alias("vwap"),
            F.sum("trade_size").alias("total_size"),
        )
    )


# --------------------- williams_r · mfi · ulcer_index · linear_interp

def q_williams_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_williams_r(_bars(spark, sf_dir), window=14).select(
        "series_key", "date", "close", "williams_r"
    )


def q_mfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_mfi(_bars(spark, sf_dir), window=14).select(
        "series_key", "date", "close", "mfi"
    )


def q_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_ulcer(_bars(spark, sf_dir), window=14).select(
        "series_key", "date", "close", "dd_pct", "ulcer"
    )


def q_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar spine + LINEAR interpolation over the same sparse
    series gap_fill forward-fills (purchase days > 200). For each gap
    day: prev + (next − prev)·(t − t_prev)/(t_next − t_prev); leading
    gaps take the next observation, trailing gaps the prev. The
    "next" carry is a time-DESCENDING running last(ignorenulls) —
    same partitioning as the ascending pass, so both carries ride one
    shuffle."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 200)
    )
    bars = daily_bars(ev).select("series_key", "date", "close")
    bounds = bars.groupBy("series_key").agg(
        F.min("date").alias("mn"), F.max("date").alias("mx")
    )
    spine = bounds.select(
        "series_key",
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 day"))).alias("date"),
    )
    j = spine.join(bars, ["series_key", "date"], "left")

    w_asc = (
        Window.partitionBy("series_key")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_desc = (
        Window.partitionBy("series_key")
        .orderBy(F.col("date").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    obs_date = F.when(F.col("close").isNotNull(), F.col("date"))
    prev_v = F.last("close", ignorenulls=True).over(w_asc)
    prev_t = F.last(obs_date, ignorenulls=True).over(w_asc)
    next_v = F.last("close", ignorenulls=True).over(w_desc)
    next_t = F.last(obs_date, ignorenulls=True).over(w_desc)

    t = F.unix_micros("date").cast("double")
    tp = F.unix_micros(prev_t).cast("double")
    tn = F.unix_micros(next_t).cast("double")
    frac = (t - tp) / F.nullif(tn - tp, F.lit(0.0))
    interp = (
        F.when(F.col("close").isNotNull(), F.col("close"))
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(prev_v + (next_v - prev_v) * frac)
    )
    return j.select(
        "series_key",
        "date",
        F.col("close").alias("close_raw"),
        F.round(interp, 6).alias("interp"),
        F.col("close").isNull().alias("was_gap"),
    )


_SPARSE = """
sparse AS (
    SELECT event_type AS series_key,
           date_trunc('day', ts) AS date,
           arg_max(value, ts) AS close
    FROM events
    WHERE event_type = 'purchase' AND value > 200
    GROUP BY 1, 2
),
bounds AS (
    SELECT series_key, min(date) AS mn, max(date) AS mx
    FROM sparse GROUP BY series_key
),
spine AS (
    SELECT series_key,
           unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS date
    FROM bounds
)"""


# ------------------------------------------- ema_cross · roc_momentum

_FAST = "0.2"
_SLOW = "0.05"
_ROC_N = 10


def q_ema_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fast/slow decimal EMAs of the daily close + crossover signal
    (see module doc)."""
    import pandas as pd

    bars = daily_bars(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("series_key").orderBy("date")
    # NULL series AND NULL closes excluded on BOTH sides: the
    # oracle's recursive join never matches a NULL series (keeping
    # only its anchor row while the fold kept the trajectory), and a
    # NULL close would TypeError inside the decimal fold where the
    # oracle's SQL arithmetic silently propagates NULL — filter both
    # before rn so ranks stay dense and identical
    daily = bars.filter(
        F.col("series_key").isNotNull() & F.col("close").isNotNull()
    ).select(
        "series_key",
        "date",
        F.row_number().over(w).cast("int").alias("rn"),
        F.round(F.col("close"), 6).cast("decimal(18,6)").alias("close"),
    )
    a_f, b_f = Decimal(_FAST), 1 - Decimal(_FAST)
    a_s, b_s = Decimal(_SLOW), 1 - Decimal(_SLOW)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn")
        fast = slow = None
        prev_sign = None
        fasts, slows, signals = [], [], []
        for c in pdf["close"]:  # decimal.Decimal
            if fast is None:
                fast, slow = c, c
            else:
                fast = quantize6(a_f * c + b_f * fast)
                slow = quantize6(a_s * c + b_s * slow)
            sign = 1 if fast > slow else (-1 if fast < slow else 0)
            signals.append(
                sign if (prev_sign is not None and sign != prev_sign) else 0
            )
            prev_sign = sign
            fasts.append(fast)
            slows.append(slow)
        return pdf.assign(ema_fast=fasts, ema_slow=slows, cross_signal=signals)[
            ["series_key", "date", "rn", "ema_fast", "ema_slow", "cross_signal"]
        ]

    folded = daily.groupBy("series_key").applyInPandas(
        fold,
        "series_key string, date timestamp, rn int,"
        " ema_fast decimal(18,6), ema_slow decimal(18,6), cross_signal int",
    )
    return folded.select(
        "series_key",
        "date",
        "rn",
        F.col("ema_fast").cast("double").alias("ema_fast"),
        F.col("ema_slow").cast("double").alias("ema_slow"),
        "cross_signal",
    )


def q_roc_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-day rate of change (%) and momentum of the daily close."""
    bars = daily_bars(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("series_key").orderBy("date")
    prev = F.lag("close", _ROC_N).over(w)
    return bars.select(
        "series_key",
        "date",
        "close",
        F.round(F.try_divide((F.col("close") - prev) * 100.0, prev), 6).alias(
            "roc"
        ),
        F.round(F.col("close") - prev, 6).alias("momentum"),
    )

# ema's close-only bars (NULL series/closes excluded to mirror the
# fold's filter); roc reads the full DAILY_BARS_SQL — one copy of the
# daily_bars mirror, per the single-implementation rule.

_CLOSE_BARS = """
bars AS (
    SELECT event_type AS series_key,
           date_trunc('day', ts) AS date,
           arg_max(value, ts) AS close
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY 1, 2
)"""


# ---------------------------------------------- aroon · cmf · keltner

_AROON_N = 14
_CMF_N = 20
_KC_N = 20
_KC_MULT = 2.0


def q_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars_rn(load_table(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("series_key")
        .orderBy("rn")
        .rowsBetween(-_AROON_N, 0)
    )
    # argmax POSITION = max of the (value, rn) struct, lexicographic:
    # ties → most recent. (arg_max/max_by can't take a struct ORDER
    # in DuckDB, but plain max OVER a struct sorts identically in
    # both engines.) For the low side, min over (low, -rn) makes the
    # tie also resolve to the most recent row.
    rn_hi = F.max(F.struct(F.col("high").alias("v"), F.col("rn").alias("r"))).over(
        w
    )["r"]
    rn_lo = -F.min(
        F.struct(F.col("low").alias("v"), (-F.col("rn")).alias("nr"))
    ).over(w)["nr"]
    return bars.select(
        "series_key",
        "date",
        F.round((F.lit(_AROON_N) - (F.col("rn") - rn_hi)) * 100.0 / _AROON_N, 6).alias(
            "aroon_up"
        ),
        F.round((F.lit(_AROON_N) - (F.col("rn") - rn_lo)) * 100.0 / _AROON_N, 6).alias(
            "aroon_down"
        ),
    )


def q_cmf(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars_rn(load_table(spark, sf_dir, "events"))
    mfm = F.coalesce(
        F.try_divide(
            (F.col("close") - F.col("low")) - (F.col("high") - F.col("close")),
            F.col("high") - F.col("low"),
        ),
        F.lit(0.0),
    )
    w = (
        Window.partitionBy("series_key")
        .orderBy("rn")
        .rowsBetween(-(_CMF_N - 1), 0)
    )
    return (
        bars.withColumn("_mfv", mfm * F.col("volume"))
        .select(
            "series_key",
            "date",
            F.round(
                F.sum("_mfv").over(w) / F.sum("volume").over(w), 6
            ).alias("cmf"),
        )
    )


def q_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars_rn(load_table(spark, sf_dir, "events"))
    wlag = Window.partitionBy("series_key").orderBy("rn")
    prev_close = F.lag("close").over(wlag)
    tr = F.greatest(
        F.col("high") - F.col("low"),
        F.abs(F.col("high") - prev_close),
        F.abs(F.col("low") - prev_close),
    )
    typical = (F.col("high") + F.col("low") + F.col("close")) / 3.0
    base = bars.withColumn("_tr", F.coalesce(tr, F.col("high") - F.col("low"))).withColumn(
        "_tp", typical
    )
    w = (
        Window.partitionBy("series_key")
        .orderBy("rn")
        .rowsBetween(-(_KC_N - 1), 0)
    )
    center = F.avg("_tp").over(w)
    atr = F.avg("_tr").over(w)
    return base.select(
        "series_key",
        "date",
        F.round(center, 6).alias("kc_center"),
        F.round(center + _KC_MULT * atr, 6).alias("kc_upper"),
        F.round(center - _KC_MULT * atr, 6).alias("kc_lower"),
    )


# --------------------------------------------------------- trix · adx

def _ema_step(carry: Decimal, x: Decimal, alpha: Decimal) -> Decimal:
    """carry' = round((1−α)·carry + α·x, 6) — exact decimal, HALF_UP
    like both engines' DECIMAL round, so the trajectory is
    engine-deterministic (sql_api.q_sql_decayed_revenue's recipe)."""
    return quantize6(carry * (1 - alpha) + x * alpha)


# ------------------------------------------------------------------ trix

_TRIX_ALPHA = Decimal("0.2")  # n=9 → 2/(n+1) = 0.2, exact in decimal


def q_trix(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    bars = daily_bars_rn(load_table(spark, sf_dir, "events")).select(
        "series_key", "date", "rn", F.col("close").cast("decimal(18,6)").alias("c")
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn")
        e1 = e2 = e3 = None
        out = []
        for c in pdf["c"]:  # arrives as decimal.Decimal
            if e1 is None:
                e1 = e2 = e3 = c
            else:
                e1 = _ema_step(e1, c, _TRIX_ALPHA)
                e2 = _ema_step(e2, e1, _TRIX_ALPHA)
                e3 = _ema_step(e3, e2, _TRIX_ALPHA)
            out.append(e3)
        return pdf.assign(e3=out)[["series_key", "date", "rn", "e3"]]

    folded = bars.groupBy("series_key").applyInPandas(
        fold, "series_key string, date timestamp, rn int, e3 decimal(18,6)"
    )
    w = Window.partitionBy("series_key").orderBy("rn")
    e3d = F.col("e3").cast("double")
    prev = F.lag(e3d).over(w)
    return folded.select(
        "series_key",
        "date",
        # ROC subtracts through zero: a ~−1e-9 move rounds to −0.0 in
        # DuckDB (std-round keeps the sign) but +0.0 via Spark's
        # BigDecimal — normalize AFTER the round on both sides.
        # try_divide: if a smoothed e3 ever hits 0 (all-zero-close
        # prefix), Spark double 0/0 is NaN while DuckDB /0 is NULL —
        # NULL on both sides, matching the adx DI/DX layer (oracle
        # divides by nullif(prev, 0)).
        (F.round(F.try_divide(100.0 * (e3d - prev), prev), 6) + 0.0).alias("trix"),
    )


_TRIX_E1 = (
    "CAST(round(r.e1 * CAST(0.8 AS DECIMAL(2,1))"
    " + s.c * CAST(0.2 AS DECIMAL(2,1)), 6) AS DECIMAL(18,6))"
)
_TRIX_E2 = (
    "CAST(round(r.e2 * CAST(0.8 AS DECIMAL(2,1))"
    f" + {_TRIX_E1} * CAST(0.2 AS DECIMAL(2,1)), 6) AS DECIMAL(18,6))"
)
_TRIX_E3 = (
    "CAST(round(r.e3 * CAST(0.8 AS DECIMAL(2,1))"
    f" + {_TRIX_E2} * CAST(0.2 AS DECIMAL(2,1)), 6) AS DECIMAL(18,6))"
)

_TRIX_SQL = f"""
    WITH RECURSIVE {DAILY_BARS_RN_SQL}, sd AS (
        SELECT series_key, date, rn, CAST(close AS DECIMAL(18,6)) AS c
        FROM seq
    ), rec(series_key, date, rn, e1, e2, e3) AS (
        SELECT series_key, date, rn, c, c, c FROM sd WHERE rn = 1
        UNION ALL
        SELECT s.series_key, s.date, s.rn, {_TRIX_E1}, {_TRIX_E2}, {_TRIX_E3}
        FROM rec r JOIN sd s
          ON s.series_key = r.series_key AND s.rn = r.rn + 1
    )
    SELECT series_key, date,
           round(100.0 * (CAST(e3 AS DOUBLE) - lag(CAST(e3 AS DOUBLE)) OVER w)
                 / nullif(lag(CAST(e3 AS DOUBLE)) OVER w, 0), 6) + 0.0 AS trix
    FROM rec
    WINDOW w AS (PARTITION BY series_key ORDER BY rn)
"""


# ------------------------------------------------------------------- adx

_ADX_ALPHA = Decimal("0.1")  # Wilder n=10 → α = 1/n = 0.1, exact


def q_adx(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    bars = daily_bars_rn(load_table(spark, sf_dir, "events"))
    wl = Window.partitionBy("series_key").orderBy("rn")
    prev_close = F.lag("close").over(wl)
    prev_high = F.lag("high").over(wl)
    prev_low = F.lag("low").over(wl)
    tr = F.coalesce(
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - prev_close),
            F.abs(F.col("low") - prev_close),
        ),
        F.col("high") - F.col("low"),
    )
    up = F.col("high") - prev_high
    dn = prev_low - F.col("low")
    pdm = F.when((up > dn) & (up > 0), up).otherwise(F.lit(0.0))
    mdm = F.when((dn > up) & (dn > 0), dn).otherwise(F.lit(0.0))
    base = bars.select(
        "series_key",
        "date",
        "rn",
        F.round(tr, 6).cast("decimal(18,6)").alias("tr_d"),
        F.round(pdm, 6).cast("decimal(18,6)").alias("pdm_d"),
        F.round(mdm, 6).cast("decimal(18,6)").alias("mdm_d"),
    )

    def fold1(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn")
        s_tr = s_pdm = s_mdm = None
        rows = []
        for tr_v, pdm_v, mdm_v in zip(pdf["tr_d"], pdf["pdm_d"], pdf["mdm_d"]):
            if s_tr is None:
                s_tr, s_pdm, s_mdm = tr_v, pdm_v, mdm_v
            else:
                s_tr = _ema_step(s_tr, tr_v, _ADX_ALPHA)
                s_pdm = _ema_step(s_pdm, pdm_v, _ADX_ALPHA)
                s_mdm = _ema_step(s_mdm, mdm_v, _ADX_ALPHA)
            rows.append((s_tr, s_pdm, s_mdm))
        pdf = pdf.assign(
            s_tr=[r[0] for r in rows],
            s_pdm=[r[1] for r in rows],
            s_mdm=[r[2] for r in rows],
        )
        return pdf[["series_key", "date", "rn", "s_tr", "s_pdm", "s_mdm"]]

    smoothed = base.groupBy("series_key").applyInPandas(
        fold1,
        "series_key string, date timestamp, rn int, "
        "s_tr decimal(18,6), s_pdm decimal(18,6), s_mdm decimal(18,6)",
    )

    # DI / DX layer: double math over identical decimal-cast inputs,
    # rounded by each engine's NATIVE round (the proven-parity op) —
    # divisions stay OUT of the recurrences.
    s_tr_dbl = F.col("s_tr").cast("double")
    pdi = F.round(
        F.coalesce(F.try_divide(100.0 * F.col("s_pdm").cast("double"), s_tr_dbl), F.lit(0.0)),
        6,
    )
    mdi = F.round(
        F.coalesce(F.try_divide(100.0 * F.col("s_mdm").cast("double"), s_tr_dbl), F.lit(0.0)),
        6,
    )
    di = smoothed.select("series_key", "date", "rn", pdi.alias("pdi"), mdi.alias("mdi"))
    dx = F.round(
        F.coalesce(
            F.try_divide(
                100.0 * F.abs(F.col("pdi") - F.col("mdi")), F.col("pdi") + F.col("mdi")
            ),
            F.lit(0.0),
        ),
        6,
    )
    with_dx = di.select(
        "series_key", "date", "rn", "pdi", "mdi", dx.alias("dx")
    ).withColumn("dx_d", F.col("dx").cast("decimal(18,6)"))

    def fold2(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn")
        carry = None
        out = []
        for d in pdf["dx_d"]:
            carry = d if carry is None else _ema_step(carry, d, _ADX_ALPHA)
            out.append(carry)
        return pdf.assign(adx=out)[
            ["series_key", "date", "rn", "pdi", "mdi", "dx", "adx"]
        ]

    folded = with_dx.groupBy("series_key").applyInPandas(
        fold2,
        "series_key string, date timestamp, rn int, "
        "pdi double, mdi double, dx double, adx decimal(18,6)",
    )
    return folded.select(
        "series_key", "date", "pdi", "mdi", "dx", F.col("adx").cast("double").alias("adx")
    )


def _wilder(carry: str, x: str) -> str:
    return (
        f"CAST(round({carry} * CAST(0.9 AS DECIMAL(2,1))"
        f" + {x} * CAST(0.1 AS DECIMAL(2,1)), 6) AS DECIMAL(18,6))"
    )


_ADX_SQL = f"""
    WITH RECURSIVE {DAILY_BARS_RN_SQL}, base AS (
        SELECT series_key, date, rn,
               CAST(round(coalesce(greatest(high - low,
                                            abs(high - lag(close) OVER wl),
                                            abs(low - lag(close) OVER wl)),
                                   high - low), 6) AS DECIMAL(18,6)) AS tr_d,
               CAST(round(CASE WHEN (high - lag(high) OVER wl)
                                    > (lag(low) OVER wl - low)
                                AND (high - lag(high) OVER wl) > 0
                               THEN high - lag(high) OVER wl
                               ELSE 0.0 END, 6) AS DECIMAL(18,6)) AS pdm_d,
               CAST(round(CASE WHEN (lag(low) OVER wl - low)
                                    > (high - lag(high) OVER wl)
                                AND (lag(low) OVER wl - low) > 0
                               THEN lag(low) OVER wl - low
                               ELSE 0.0 END, 6) AS DECIMAL(18,6)) AS mdm_d
        FROM seq
        WINDOW wl AS (PARTITION BY series_key ORDER BY rn)
    ), rec1(series_key, date, rn, s_tr, s_pdm, s_mdm) AS (
        SELECT series_key, date, rn, tr_d, pdm_d, mdm_d FROM base WHERE rn = 1
        UNION ALL
        SELECT b.series_key, b.date, b.rn,
               {_wilder('r.s_tr', 'b.tr_d')},
               {_wilder('r.s_pdm', 'b.pdm_d')},
               {_wilder('r.s_mdm', 'b.mdm_d')}
        FROM rec1 r JOIN base b
          ON b.series_key = r.series_key AND b.rn = r.rn + 1
    ), di AS (
        SELECT series_key, date, rn,
               round(coalesce(100.0 * CAST(s_pdm AS DOUBLE)
                              / nullif(CAST(s_tr AS DOUBLE), 0), 0.0), 6) AS pdi,
               round(coalesce(100.0 * CAST(s_mdm AS DOUBLE)
                              / nullif(CAST(s_tr AS DOUBLE), 0), 0.0), 6) AS mdi
        FROM rec1
    ), dxt AS (
        SELECT *, round(coalesce(100.0 * abs(pdi - mdi)
                                 / nullif(pdi + mdi, 0), 0.0), 6) AS dx
        FROM di
    ), dxd AS (
        SELECT *, CAST(dx AS DECIMAL(18,6)) AS dx_d FROM dxt
    ), rec2(series_key, date, rn, pdi, mdi, dx, adx) AS (
        SELECT series_key, date, rn, pdi, mdi, dx, dx_d FROM dxd WHERE rn = 1
        UNION ALL
        SELECT d.series_key, d.date, d.rn, d.pdi, d.mdi, d.dx,
               {_wilder('r.adx', 'd.dx_d')}
        FROM rec2 r JOIN dxd d
          ON d.series_key = r.series_key AND d.rn = r.rn + 1
    )
    SELECT series_key, date, pdi, mdi, dx, CAST(adx AS DOUBLE) AS adx
    FROM rec2
"""


# ------------------------------- cci · force_index · ease_of_movement

_CCI_N = 20
_FI_N = 13
_EOM_N = 14
_EOM_SCALE = 100000000.0  # the classic 1e8 volume normalizer


def q_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars_rn(load_table(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("series_key")
        .orderBy("rn")
        .rowsBetween(-(_CCI_N - 1), 0)
    )
    base = bars.select(
        "series_key",
        "date",
        "rn",
        ((F.col("high") + F.col("low") + F.col("close")) / 3.0).alias("tp"),
    ).withColumn("sma", F.avg("tp").over(w))
    wrows = base.select(
        "series_key", F.col("rn").alias("wrn"), F.col("tp").alias("wtp")
    )
    dev = (
        base.join(wrows, "series_key")
        .filter(
            (F.col("wrn") <= F.col("rn"))
            & (F.col("wrn") >= F.col("rn") - (_CCI_N - 1))
        )
        .groupBy("series_key", "date", "tp", "sma")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(
                F.round(F.abs(F.col("wtp") - F.col("sma")), 6).cast(
                    "decimal(18,6)"
                )
            ).alias("_dev_d"),
        )
        .withColumn("_units", (F.col("_dev_d") * 1000000).cast("long"))
        .withColumn("md", exact_avg6_expr("_units", "_n"))
    )
    return dev.select(
        "series_key",
        "date",
        (
            F.round(
                F.try_divide(F.col("tp") - F.col("sma"), 0.015 * F.col("md")), 6
            )
            + 0.0
        ).alias("cci"),
    )


def q_force_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars_rn(load_table(spark, sf_dir, "events"))
    wl = Window.partitionBy("series_key").orderBy("rn")
    fi = (F.col("close") - F.lag("close").over(wl)) * F.col("volume")
    w = (
        Window.partitionBy("series_key")
        .orderBy("rn")
        .rowsBetween(-(_FI_N - 1), 0)
    )
    return (
        bars.withColumn("_fi", fi)
        .select(
            "series_key",
            "date",
            (F.round(F.col("_fi"), 6) + 0.0).alias("force_raw"),
            (F.round(F.avg("_fi").over(w), 6) + 0.0).alias("force_sma"),
        )
    )


def q_ease_of_movement(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars_rn(load_table(spark, sf_dir, "events"))
    wl = Window.partitionBy("series_key").orderBy("rn")
    mid = (F.col("high") + F.col("low")) / 2.0
    dm = mid - F.lag(mid).over(wl)
    box = F.try_divide(F.col("volume") / _EOM_SCALE, F.col("high") - F.col("low"))
    emv = F.try_divide(dm, box)
    w = (
        Window.partitionBy("series_key")
        .orderBy("rn")
        .rowsBetween(-(_EOM_N - 1), 0)
    )
    # EMV magnitudes reach ~1e9-1e10 (the 1e8 volume normalizer is
    # in the DENOMINATOR of the box ratio), where a 6dp rounding is
    # below the double's ulp and the engines' rounds diverge in the
    # last digit — the CLAUDE.md 2dp-for-~1e9 rule applies.
    return (
        bars.withColumn("_emv", emv)
        .select(
            "series_key",
            "date",
            (F.round(F.col("_emv"), 2) + 0.0).alias("emv"),
            (F.round(F.avg("_emv").over(w), 2) + 0.0).alias("eom_sma"),
        )
    )


_CCI_MD = exact_avg6_sql("CAST(sum(dev_d) * 1000000 AS BIGINT)", "count(*)")


# ----------------------------------------------------------------------
# ultimate_oscillator · vortex · ichimoku · heikin_ashi · parabolic_sar

_UO_FAST, _UO_MID, _UO_SLOW = 7, 14, 28
_VI_N = 14
_TENKAN, _KIJUN, _SENKOU_B, _DISP = 5, 10, 20, 10


# ------------------------------------------------------ ultimate_oscillator


def q_ultimate_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars_rn(load_table(spark, sf_dir, "events"))
    wl = Window.partitionBy("series_key").orderBy("rn")
    pc = F.lag("close").over(wl)
    bp = F.col("close") - F.least(F.col("low"), pc)
    tr = F.greatest(F.col("high"), pc) - F.least(F.col("low"), pc)
    base = bars.select("series_key", "date", "rn", bp.alias("bp"), tr.alias("tr"))

    def ratio(n: int):
        w = (
            Window.partitionBy("series_key")
            .orderBy("rn")
            .rowsBetween(-(n - 1), 0)
        )
        return F.try_divide(F.sum("bp").over(w), F.sum("tr").over(w))

    uo = (
        100.0
        * (4.0 * ratio(_UO_FAST) + 2.0 * ratio(_UO_MID) + ratio(_UO_SLOW))
        / 7.0
    )
    return base.select(
        "series_key", "date", (F.round(uo, 6) + 0.0).alias("uo")
    )


# ------------------------------------------------------------------ vortex


def q_vortex(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars_rn(load_table(spark, sf_dir, "events"))
    wl = Window.partitionBy("series_key").orderBy("rn")
    pc = F.lag("close").over(wl)
    ph = F.lag("high").over(wl)
    pl = F.lag("low").over(wl)
    vmp = F.abs(F.col("high") - pl)
    vmm = F.abs(F.col("low") - ph)
    tr = F.greatest(
        F.col("high") - F.col("low"),
        F.abs(F.col("high") - pc),
        F.abs(F.col("low") - pc),
    )
    base = bars.select(
        "series_key",
        "date",
        "rn",
        vmp.alias("vmp"),
        vmm.alias("vmm"),
        tr.alias("tr"),
    )
    w = (
        Window.partitionBy("series_key")
        .orderBy("rn")
        .rowsBetween(-(_VI_N - 1), 0)
    )
    str_ = F.sum("tr").over(w)
    return base.select(
        "series_key",
        "date",
        (F.round(F.try_divide(F.sum("vmp").over(w), str_), 6) + 0.0).alias(
            "vi_plus"
        ),
        (F.round(F.try_divide(F.sum("vmm").over(w), str_), 6) + 0.0).alias(
            "vi_minus"
        ),
    )


# ---------------------------------------------------------------- ichimoku


def q_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars_rn(load_table(spark, sf_dir, "events"))
    wl = Window.partitionBy("series_key").orderBy("rn")

    def midpoint(n: int):
        w = (
            Window.partitionBy("series_key")
            .orderBy("rn")
            .rowsBetween(-(n - 1), 0)
        )
        return (F.max("high").over(w) + F.min("low").over(w)) / 2.0

    tenkan = midpoint(_TENKAN)
    kijun = midpoint(_KIJUN)
    base = bars.select(
        "series_key",
        "date",
        "rn",
        "close",
        tenkan.alias("_t"),
        kijun.alias("_k"),
        midpoint(_SENKOU_B).alias("_sb"),
    )
    return base.select(
        "series_key",
        "date",
        F.round("_t", 6).alias("tenkan"),
        F.round("_k", 6).alias("kijun"),
        F.round(F.lag((F.col("_t") + F.col("_k")) / 2.0, _DISP).over(wl), 6).alias(
            "senkou_a"
        ),
        F.round(F.lag("_sb", _DISP).over(wl), 6).alias("senkou_b"),
        F.round(F.lead("close", _DISP).over(wl), 6).alias("chikou"),
    )


# -------------------------------------------------------------- heikin_ashi

_HALF = Decimal("0.5")
_QUARTER = Decimal("0.25")


def q_heikin_ashi(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    bars = daily_bars_rn(load_table(spark, sf_dir, "events")).select(
        "series_key",
        "date",
        "rn",
        "high",
        "low",
        F.col("open").cast("decimal(18,6)").alias("o_d"),
        F.col("high").cast("decimal(18,6)").alias("h_d"),
        F.col("low").cast("decimal(18,6)").alias("l_d"),
        F.col("close").cast("decimal(18,6)").alias("c_d"),
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn")
        ha_open = ha_close = None
        opens, closes = [], []
        for o, h, l, c in zip(pdf["o_d"], pdf["h_d"], pdf["l_d"], pdf["c_d"]):
            if ha_open is None:
                ha_open = quantize6((o + c) * _HALF)
            else:
                ha_open = quantize6((ha_open + ha_close) * _HALF)
            ha_close = quantize6((o + h + l + c) * _QUARTER)
            opens.append(ha_open)
            closes.append(ha_close)
        return pdf.assign(ha_open_d=opens, ha_close_d=closes)[
            ["series_key", "date", "high", "low", "ha_open_d", "ha_close_d"]
        ]

    folded = bars.groupBy("series_key").applyInPandas(
        fold,
        "series_key string, date timestamp, high double, low double, "
        "ha_open_d decimal(18,6), ha_close_d decimal(18,6)",
    )
    hao = F.col("ha_open_d").cast("double")
    hac = F.col("ha_close_d").cast("double")
    return folded.select(
        "series_key",
        "date",
        F.round(hao, 6).alias("ha_open"),
        F.round(F.greatest(F.col("high"), hao, hac), 6).alias("ha_high"),
        F.round(F.least(F.col("low"), hao, hac), 6).alias("ha_low"),
        F.round(hac, 6).alias("ha_close"),
    )


# ------------------------------------------------------------ parabolic_sar

_PSAR_AF0 = Decimal("0.02")
_PSAR_AFMAX = Decimal("0.2")


def q_parabolic_sar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder's Parabolic SAR — the BRANCHY stateful recurrence
    (trend flips, clamped step, accelerating factor) run entirely in
    exact decimal so both engines replay the identical trajectory:

    state at rn=2 (after two bars): trend = up iff close2 ≥ close1;
    ep/sar = the two bars' extreme pair; af = 0.02. Per step:
    sar_raw = round(sar + af·(ep − sar), 6); clamp against the two
    PRIOR lows (up) / highs (down); reversal when the new bar crosses
    the clamped sar → sar := old ep, ep := new extreme, af := 0.02;
    otherwise extend (new extreme bumps af by 0.02 up to 0.2). Every
    quantity is DECIMAL(18,6) (af exact 2dp), every product rounded
    per step — no division, no float: the heikin_ashi/trix recipe on
    a recurrence with four state variables and data-dependent
    branches. Emits (sar, trend) from rn=2."""
    import pandas as pd

    bars = daily_bars_rn(load_table(spark, sf_dir, "events")).select(
        "series_key",
        "date",
        "rn",
        F.col("high").cast("decimal(18,6)").alias("h_d"),
        F.col("low").cast("decimal(18,6)").alias("l_d"),
        F.col("close").cast("decimal(18,6)").alias("c_d"),
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn").reset_index(drop=True)
        n = len(pdf)
        out_sar, out_trend, out_idx = [], [], []
        if n >= 2:
            h, l, c = pdf["h_d"], pdf["l_d"], pdf["c_d"]
            up = c[1] >= c[0]
            ep = max(h[0], h[1]) if up else min(l[0], l[1])
            sar = min(l[0], l[1]) if up else max(h[0], h[1])
            af = _PSAR_AF0
            out_sar.append(sar)
            out_trend.append(1 if up else -1)
            out_idx.append(1)
            for t in range(2, n):
                sar_raw = quantize6(sar + af * (ep - sar))
                if up:
                    sar_c = min(sar_raw, l[t - 1], l[t - 2])
                    if l[t] < sar_c:  # reversal to down
                        up, sar, ep, af = False, ep, l[t], _PSAR_AF0
                    else:
                        sar = sar_c
                        if h[t] > ep:
                            ep, af = h[t], min(af + _PSAR_AF0, _PSAR_AFMAX)
                else:
                    sar_c = max(sar_raw, h[t - 1], h[t - 2])
                    if h[t] > sar_c:  # reversal to up
                        up, sar, ep, af = True, ep, h[t], _PSAR_AF0
                    else:
                        sar = sar_c
                        if l[t] < ep:
                            ep, af = l[t], min(af + _PSAR_AF0, _PSAR_AFMAX)
                out_sar.append(sar)
                out_trend.append(1 if up else -1)
                out_idx.append(t)
        sel = pdf.iloc[out_idx]
        return pd.DataFrame(
            {
                "series_key": sel["series_key"].values,
                "date": sel["date"].values,
                "psar_d": out_sar,
                "trend": out_trend,
            }
        )

    folded = bars.groupBy("series_key").applyInPandas(
        fold,
        "series_key string, date timestamp, psar_d decimal(18,6), trend int",
    )
    return folded.select(
        "series_key",
        "date",
        F.round(F.col("psar_d").cast("double"), 6).alias("psar"),
        "trend",
    )


_UO_RATIO = {
    n: (
        f"sum(bp) OVER (PARTITION BY series_key ORDER BY rn "
        f"ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW) "
        f"/ nullif(sum(tr) OVER (PARTITION BY series_key ORDER BY rn "
        f"ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW), 0)"
    )
    for n in (_UO_FAST, _UO_MID, _UO_SLOW)
}

# ha_close is row-local; ha_open is the decimal recurrence (trix
# recipe: multiply by EXACT decimal constants, never divide inside
# the recursion — DuckDB DECIMAL/DECIMAL division returns DOUBLE).
_HA_CLOSE = (
    "CAST(round((s.o_d + s.h_d + s.l_d + s.c_d) * CAST(0.25 AS DECIMAL(3,2)), 6)"
    " AS DECIMAL(18,6))"
)
_HA_OPEN_NEXT = (
    "CAST(round((r.ha_open_d + r.ha_close_d) * CAST(0.5 AS DECIMAL(2,1)), 6)"
    " AS DECIMAL(18,6))"
)

# ---- parabolic_sar oracle fragments (recursive CTE, 4 state vars)
_PS_RAW = "CAST(round(r.sar + r.af * (r.ep - r.sar), 6) AS DECIMAL(18,6))"
_PS_UP = f"least({_PS_RAW}, s.pl1, s.pl2)"
_PS_DN = f"greatest({_PS_RAW}, s.ph1, s.ph2)"
_PS_REV_UP = f"(s.l_d < {_PS_UP})"
_PS_REV_DN = f"(s.h_d > {_PS_DN})"
_PS_AF0 = "CAST(0.02 AS DECIMAL(18,6))"
_PS_BUMP = "CAST(least(r.af + CAST(0.02 AS DECIMAL(18,6)), CAST(0.2 AS DECIMAL(18,6))) AS DECIMAL(18,6))"

_PSAR_SQL = f"""
    WITH RECURSIVE {DAILY_BARS_RN_SQL}, sd AS (
        SELECT series_key, date, rn,
               CAST(high AS DECIMAL(18,6)) AS h_d,
               CAST(low AS DECIMAL(18,6)) AS l_d,
               CAST(close AS DECIMAL(18,6)) AS c_d,
               lag(CAST(low AS DECIMAL(18,6)), 1) OVER w AS pl1,
               lag(CAST(low AS DECIMAL(18,6)), 2) OVER w AS pl2,
               lag(CAST(high AS DECIMAL(18,6)), 1) OVER w AS ph1,
               lag(CAST(high AS DECIMAL(18,6)), 2) OVER w AS ph2,
               lag(CAST(close AS DECIMAL(18,6)), 1) OVER w AS pc1
        FROM seq
        WINDOW w AS (PARTITION BY series_key ORDER BY rn)
    ), rec(series_key, date, rn, trend, sar, ep, af) AS (
        SELECT series_key, date, rn,
               CASE WHEN c_d >= pc1 THEN 1 ELSE -1 END,
               CAST(CASE WHEN c_d >= pc1 THEN least(l_d, pl1)
                         ELSE greatest(h_d, ph1) END AS DECIMAL(18,6)),
               CAST(CASE WHEN c_d >= pc1 THEN greatest(h_d, ph1)
                         ELSE least(l_d, pl1) END AS DECIMAL(18,6)),
               {_PS_AF0}
        FROM sd WHERE rn = 2
        UNION ALL
        SELECT s.series_key, s.date, s.rn,
               CASE WHEN r.trend = 1
                    THEN CASE WHEN {_PS_REV_UP} THEN -1 ELSE 1 END
                    ELSE CASE WHEN {_PS_REV_DN} THEN 1 ELSE -1 END END,
               CAST(CASE WHEN r.trend = 1
                    THEN CASE WHEN {_PS_REV_UP} THEN r.ep ELSE {_PS_UP} END
                    ELSE CASE WHEN {_PS_REV_DN} THEN r.ep ELSE {_PS_DN} END
                    END AS DECIMAL(18,6)),
               CAST(CASE WHEN r.trend = 1
                    THEN CASE WHEN {_PS_REV_UP} THEN s.l_d
                              ELSE greatest(r.ep, s.h_d) END
                    ELSE CASE WHEN {_PS_REV_DN} THEN s.h_d
                              ELSE least(r.ep, s.l_d) END
                    END AS DECIMAL(18,6)),
               CAST(CASE WHEN r.trend = 1
                    THEN CASE WHEN {_PS_REV_UP} THEN {_PS_AF0}
                              WHEN s.h_d > r.ep THEN {_PS_BUMP}
                              ELSE r.af END
                    ELSE CASE WHEN {_PS_REV_DN} THEN {_PS_AF0}
                              WHEN s.l_d < r.ep THEN {_PS_BUMP}
                              ELSE r.af END
                    END AS DECIMAL(18,6))
        FROM rec r JOIN sd s
          ON s.series_key = r.series_key AND s.rn = r.rn + 1
    )
    SELECT series_key, date,
           round(CAST(sar AS DOUBLE), 6) AS psar,
           CAST(trend AS INT) AS trend
    FROM rec
"""


QUERIES = {
    "atr": q_atr,
    "stochastic": q_stochastic,
    "obv": q_obv,
    "donchian": q_donchian,
    "zscore_anomaly": q_zscore_anomaly,
    "pivot_points": q_pivot_points,
    "vwap": q_vwap,
    "williams_r": q_williams_r,
    "mfi": q_mfi,
    "ulcer_index": q_ulcer_index,
    "linear_interp": q_linear_interp,
    "ema_cross": q_ema_cross,
    "roc_momentum": q_roc_momentum,
    "aroon": q_aroon,
    "cmf": q_cmf,
    "keltner": q_keltner,
    "trix": q_trix,
    "adx": q_adx,
    "cci": q_cci,
    "force_index": q_force_index,
    "ease_of_movement": q_ease_of_movement,
    "ultimate_oscillator": q_ultimate_oscillator,
    "vortex": q_vortex,
    "ichimoku": q_ichimoku,
    "heikin_ashi": q_heikin_ashi,
    "parabolic_sar": q_parabolic_sar,
}

ORACLE = {
    # Derived-from-rounded rule: any column computed FROM a rounded column
    # (atr from true_range, pct_d from pct_k, is_anomaly from zscore) reads
    # the rounded value on both sides, so the comparison stays exact.
    "atr": f"""
        WITH {DAILY_BARS_SQL},
        tr AS (
            SELECT series_key, date, close,
                   round(CASE WHEN lag(close) OVER w IS NULL
                              THEN high - low
                              ELSE greatest(high - low,
                                            abs(high - lag(close) OVER w),
                                            abs(low - lag(close) OVER w))
                         END, 6) AS true_range
            FROM bars
            WINDOW w AS (PARTITION BY series_key ORDER BY date)
        )
        SELECT series_key, date, close, true_range,
               round(avg(true_range) OVER (PARTITION BY series_key ORDER BY date
                                           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
                     6) AS atr
        FROM tr
    """,
    "stochastic": f"""
        WITH {DAILY_BARS_SQL},
        k AS (
            SELECT series_key, date, close,
                   round(100.0 * (close - min(low) OVER w14)
                         / nullif(max(high) OVER w14 - min(low) OVER w14, 0.0),
                         6) AS pct_k
            FROM bars
            WINDOW w14 AS (PARTITION BY series_key ORDER BY date
                           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
        SELECT series_key, date, close, pct_k,
               round(avg(pct_k) OVER (PARTITION BY series_key ORDER BY date
                                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                     6) AS pct_d
        FROM k
    """,
    "obv": f"""
        WITH {DAILY_BARS_SQL},
        d AS (
            SELECT series_key, date, close, volume,
                   CASE WHEN lag(close) OVER w IS NULL THEN 0
                        WHEN close > lag(close) OVER w THEN volume
                        WHEN close < lag(close) OVER w THEN -volume
                        ELSE 0 END AS signed_vol
            FROM bars
            WINDOW w AS (PARTITION BY series_key ORDER BY date)
        )
        SELECT series_key, date, close, volume,
               CAST(sum(signed_vol) OVER (PARTITION BY series_key ORDER BY date
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW)
                    AS BIGINT) AS obv
        FROM d
    """,
    "donchian": f"""
        WITH {DAILY_BARS_SQL}
        SELECT series_key, date, close,
               max(high) OVER w20 AS dc_upper,
               min(low) OVER w20 AS dc_lower,
               round((max(high) OVER w20 + min(low) OVER w20) / 2.0, 6) AS dc_mid
        FROM bars
        WINDOW w20 AS (PARTITION BY series_key ORDER BY date
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
    "zscore_anomaly": f"""
        WITH {DAILY_BARS_SQL},
        z AS (
            SELECT series_key, date, close,
                   round((close - avg(close) OVER w20)
                         / nullif(CASE WHEN count(close) OVER w20 >= 20
                                       THEN stddev_samp(close) OVER w20 END, 0.0),
                         6) AS zscore
            FROM bars
            WINDOW w20 AS (PARTITION BY series_key ORDER BY date
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        )
        SELECT series_key, date, close, zscore,
               CASE WHEN zscore IS NOT NULL THEN abs(zscore) > 2.0 END AS is_anomaly
        FROM z
    """,
    "pivot_points": f"""
        WITH {DAILY_BARS_SQL},
        p AS (
            SELECT series_key, date, close,
                   (lag(high) OVER w + lag(low) OVER w + lag(close) OVER w) / 3.0 AS praw,
                   lag(high) OVER w AS ph,
                   lag(low) OVER w AS pl
            FROM bars
            WINDOW w AS (PARTITION BY series_key ORDER BY date)
        )
        SELECT series_key, date, close,
               round(praw, 6) AS pivot,
               round(2.0 * praw - pl, 6) AS r1,
               round(2.0 * praw - ph, 6) AS s1
        FROM p
    """,
    "vwap": """
        SELECT event_type AS series_key,
               date_trunc('day', ts) AS date,
               round(sum(value * (event_id % 97 + 1))
                     / sum(event_id % 97 + 1), 6) AS vwap,
               CAST(sum(event_id % 97 + 1) AS BIGINT) AS total_size
        FROM events
        GROUP BY 1, 2
    """,
    "williams_r": f"""
        WITH {DAILY_BARS_SQL}
        SELECT series_key, date, close,
               round(-100.0 * (hh - close) / nullif(hh - ll, 0.0), 6)
                   + 0.0 AS williams_r
        FROM (
            SELECT series_key, date, close,
                   max(high) OVER w AS hh,
                   min(low) OVER w AS ll
            FROM bars
            WINDOW w AS (PARTITION BY series_key ORDER BY date
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
    """,
    "mfi": f"""
        WITH {DAILY_BARS_SQL},
        tp AS (
            SELECT series_key, date, close, volume,
                   round((high + low + close) / 3.0, 6) AS tp
            FROM bars
        ),
        fl AS (
            SELECT series_key, date, close,
                   tp - lag(tp) OVER w AS d,
                   round(tp * volume, 6) AS flow
            FROM tp
            WINDOW w AS (PARTITION BY series_key ORDER BY date)
        ),
        sgn AS (
            SELECT series_key, date, close,
                   CASE WHEN d > 0 THEN flow ELSE 0.0 END AS pos,
                   CASE WHEN d < 0 THEN flow ELSE 0.0 END AS neg
            FROM fl
        )
        SELECT series_key, date, close,
               round(100.0 * sp / nullif(sp + sn, 0.0), 6) AS mfi
        FROM (
            SELECT series_key, date, close,
                   round(sum(pos) OVER w, 6) AS sp,
                   round(sum(neg) OVER w, 6) AS sn
            FROM sgn
            WINDOW w AS (PARTITION BY series_key ORDER BY date
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
    """,
    "ulcer_index": f"""
        WITH {DAILY_BARS_SQL},
        pk AS (
            SELECT series_key, date, close,
                   max(close) OVER w AS peak
            FROM bars
            WINDOW w AS (PARTITION BY series_key ORDER BY date
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        ),
        dd AS (
            SELECT series_key, date, close,
                   round(100.0 * (close - peak) / nullif(peak, 0.0), 6)
                       AS dd_pct
            FROM pk
        )
        SELECT series_key, date, close, dd_pct,
               round(sqrt(avg(dd_pct * dd_pct) OVER w), 6) AS ulcer
        FROM dd
        WINDOW w AS (PARTITION BY series_key ORDER BY date
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    """,
    "linear_interp": f"""
        WITH {_SPARSE},
        j AS (
            SELECT s.series_key, s.date, b.close
            FROM spine s LEFT JOIN sparse b
              ON s.series_key = b.series_key AND s.date = b.date
        ),
        carried AS (
            SELECT series_key, date, close,
                   last_value(close IGNORE NULLS) OVER wa AS prev_v,
                   last_value(CASE WHEN close IS NOT NULL THEN date END
                              IGNORE NULLS) OVER wa AS prev_t,
                   first_value(close IGNORE NULLS) OVER wd AS next_v,
                   first_value(CASE WHEN close IS NOT NULL THEN date END
                               IGNORE NULLS) OVER wd AS next_t
            FROM j
            WINDOW wa AS (PARTITION BY series_key ORDER BY date
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wd AS (PARTITION BY series_key ORDER BY date
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT series_key, date, close AS close_raw,
               round(CASE
                   WHEN close IS NOT NULL THEN close
                   WHEN prev_v IS NULL THEN next_v
                   WHEN next_v IS NULL THEN prev_v
                   ELSE prev_v + (next_v - prev_v)
                        * (epoch_us(date) - epoch_us(prev_t))
                        / nullif(epoch_us(next_t) - epoch_us(prev_t), 0)
               END, 6) AS interp,
               close IS NULL AS was_gap
        FROM carried
    """,
    "ema_cross": f"""
        WITH RECURSIVE {_CLOSE_BARS}, seq AS (
            SELECT series_key, date,
                   CAST(row_number() OVER (PARTITION BY series_key
                                           ORDER BY date) AS INT) AS rn,
                   CAST(round(close, 6) AS DECIMAL(18,6)) AS close
            FROM bars
            WHERE close IS NOT NULL
        ), rec(series_key, date, rn, fast, slow) AS (
            SELECT series_key, date, rn, close, close FROM seq WHERE rn = 1
            UNION ALL
            SELECT s.series_key, s.date, s.rn,
                   CAST(round(CAST({_FAST} AS DECIMAL(2,1)) * s.close
                              + CAST(0.8 AS DECIMAL(2,1)) * r.fast, 6)
                        AS DECIMAL(18,6)),
                   CAST(round(CAST({_SLOW} AS DECIMAL(3,2)) * s.close
                              + CAST(0.95 AS DECIMAL(3,2)) * r.slow, 6)
                        AS DECIMAL(18,6))
            FROM rec r JOIN seq s
              ON s.series_key = r.series_key AND s.rn = r.rn + 1
        ), signed AS (
            SELECT series_key, date, rn, fast, slow,
                   CASE WHEN fast > slow THEN 1
                        WHEN fast < slow THEN -1 ELSE 0 END AS sign
            FROM rec
        )
        SELECT series_key, date, rn,
               CAST(fast AS DOUBLE) AS ema_fast,
               CAST(slow AS DOUBLE) AS ema_slow,
               CAST(CASE WHEN lag(sign) OVER w IS NOT NULL
                          AND sign <> lag(sign) OVER w
                         THEN sign ELSE 0 END AS INT) AS cross_signal
        FROM signed
        WINDOW w AS (PARTITION BY series_key ORDER BY rn)
    """,
    "roc_momentum": f"""
        WITH {DAILY_BARS_SQL}
        SELECT series_key, date, close,
               round((close - lag(close, {_ROC_N}) OVER w) * 100.0
                     / nullif(lag(close, {_ROC_N}) OVER w, 0), 6) AS roc,
               round(close - lag(close, {_ROC_N}) OVER w, 6) AS momentum
        FROM bars
        WINDOW w AS (PARTITION BY series_key ORDER BY date)
    """,
    "aroon": f"""
        WITH {DAILY_BARS_RN_SQL}
        SELECT series_key, date,
               round(({_AROON_N} - (rn - struct_extract(
                         max(struct_pack(v := high, r := rn)) OVER w, 'r')))
                     * 100.0 / {_AROON_N}, 6) AS aroon_up,
               round(({_AROON_N} - (rn + struct_extract(
                         min(struct_pack(v := low, nr := -rn)) OVER w, 'nr')))
                     * 100.0 / {_AROON_N}, 6) AS aroon_down
        FROM seq
        WINDOW w AS (PARTITION BY series_key ORDER BY rn
                     ROWS BETWEEN {_AROON_N} PRECEDING AND CURRENT ROW)
    """,
    "cmf": f"""
        WITH {DAILY_BARS_RN_SQL}, mf AS (
            SELECT *,
                   coalesce(((close - low) - (high - close))
                            / nullif(high - low, 0), 0.0) * volume AS mfv
            FROM seq
        )
        SELECT series_key, date,
               round(sum(mfv) OVER w / sum(volume) OVER w, 6) AS cmf
        FROM mf
        WINDOW w AS (PARTITION BY series_key ORDER BY rn
                     ROWS BETWEEN {_CMF_N - 1} PRECEDING AND CURRENT ROW)
    """,
    "keltner": f"""
        WITH {DAILY_BARS_RN_SQL}, trr AS (
            SELECT *,
                   (high + low + close) / 3.0 AS tp,
                   coalesce(greatest(high - low,
                                     abs(high - lag(close) OVER wl),
                                     abs(low - lag(close) OVER wl)),
                            high - low) AS tr
            FROM seq
            WINDOW wl AS (PARTITION BY series_key ORDER BY rn)
        )
        SELECT series_key, date,
               round(avg(tp) OVER w, 6) AS kc_center,
               round(avg(tp) OVER w + {_KC_MULT} * avg(tr) OVER w, 6)
                   AS kc_upper,
               round(avg(tp) OVER w - {_KC_MULT} * avg(tr) OVER w, 6)
                   AS kc_lower
        FROM trr
        WINDOW w AS (PARTITION BY series_key ORDER BY rn
                     ROWS BETWEEN {_KC_N - 1} PRECEDING AND CURRENT ROW)
    """,
    "trix": _TRIX_SQL,
    "adx": _ADX_SQL,
    "cci": f"""
        WITH {DAILY_BARS_RN_SQL}, tp AS (
            SELECT series_key, date, rn,
                   (high + low + close) / 3.0 AS tp,
                   avg((high + low + close) / 3.0) OVER (
                       PARTITION BY series_key ORDER BY rn
                       ROWS BETWEEN {_CCI_N - 1} PRECEDING AND CURRENT ROW
                   ) AS sma
            FROM seq
        ), dev AS (
            SELECT b.series_key, b.date, b.tp, b.sma,
                   CAST(round(abs(w.tp - b.sma), 6) AS DECIMAL(18,6)) AS dev_d
            FROM tp b JOIN tp w
              ON w.series_key = b.series_key
             AND w.rn <= b.rn AND w.rn >= b.rn - {_CCI_N - 1}
        ), md AS (
            SELECT series_key, date, tp, sma,
                   {_CCI_MD} AS md
            FROM dev GROUP BY series_key, date, tp, sma
        )
        SELECT series_key, date,
               round((tp - sma) / nullif(0.015 * md, 0), 6) + 0.0 AS cci
        FROM md
    """,
    "force_index": f"""
        WITH {DAILY_BARS_RN_SQL}, fi AS (
            SELECT series_key, date, rn,
                   (close - lag(close) OVER (PARTITION BY series_key
                                             ORDER BY rn)) * volume AS fi
            FROM seq
        )
        SELECT series_key, date,
               round(fi, 6) + 0.0 AS force_raw,
               round(avg(fi) OVER (PARTITION BY series_key ORDER BY rn
                                   ROWS BETWEEN {_FI_N - 1} PRECEDING
                                            AND CURRENT ROW), 6) + 0.0
                   AS force_sma
        FROM fi
    """,
    "ease_of_movement": f"""
        WITH {DAILY_BARS_RN_SQL}, emv AS (
            SELECT series_key, date, rn,
                   ((high + low) / 2.0
                    - lag((high + low) / 2.0) OVER (PARTITION BY series_key
                                                    ORDER BY rn))
                   / nullif((volume / {_EOM_SCALE}) / nullif(high - low, 0), 0)
                       AS emv
            FROM seq
        )
        SELECT series_key, date,
               round(emv, 2) + 0.0 AS emv,
               round(avg(emv) OVER (PARTITION BY series_key ORDER BY rn
                                    ROWS BETWEEN {_EOM_N - 1} PRECEDING
                                             AND CURRENT ROW), 2) + 0.0
                   AS eom_sma
        FROM emv
    """,
    "parabolic_sar": _PSAR_SQL,
    "ultimate_oscillator": f"""
        WITH {DAILY_BARS_RN_SQL}, bt AS (
            SELECT series_key, date, rn,
                   close - least(low, lag(close) OVER w) AS bp,
                   greatest(high, lag(close) OVER w)
                       - least(low, lag(close) OVER w) AS tr
            FROM seq
            WINDOW w AS (PARTITION BY series_key ORDER BY rn)
        )
        SELECT series_key, date,
               round(100.0 * (4.0 * ({_UO_RATIO[_UO_FAST]})
                              + 2.0 * ({_UO_RATIO[_UO_MID]})
                              + ({_UO_RATIO[_UO_SLOW]})) / 7.0, 6) + 0.0 AS uo
        FROM bt
    """,
    "vortex": f"""
        WITH {DAILY_BARS_RN_SQL}, vm AS (
            SELECT series_key, date, rn,
                   abs(high - lag(low) OVER w) AS vmp,
                   abs(low - lag(high) OVER w) AS vmm,
                   greatest(high - low,
                            abs(high - lag(close) OVER w),
                            abs(low - lag(close) OVER w)) AS tr
            FROM seq
            WINDOW w AS (PARTITION BY series_key ORDER BY rn)
        )
        SELECT series_key, date,
               round(sum(vmp) OVER wn / nullif(sum(tr) OVER wn, 0), 6) + 0.0
                   AS vi_plus,
               round(sum(vmm) OVER wn / nullif(sum(tr) OVER wn, 0), 6) + 0.0
                   AS vi_minus
        FROM vm
        WINDOW wn AS (PARTITION BY series_key ORDER BY rn
                      ROWS BETWEEN {_VI_N - 1} PRECEDING AND CURRENT ROW)
    """,
    "ichimoku": f"""
        WITH {DAILY_BARS_RN_SQL}, mids AS (
            SELECT series_key, date, rn, close,
                   (max(high) OVER (PARTITION BY series_key ORDER BY rn
                        ROWS BETWEEN {_TENKAN - 1} PRECEDING AND CURRENT ROW)
                    + min(low) OVER (PARTITION BY series_key ORDER BY rn
                        ROWS BETWEEN {_TENKAN - 1} PRECEDING AND CURRENT ROW))
                   / 2.0 AS t,
                   (max(high) OVER (PARTITION BY series_key ORDER BY rn
                        ROWS BETWEEN {_KIJUN - 1} PRECEDING AND CURRENT ROW)
                    + min(low) OVER (PARTITION BY series_key ORDER BY rn
                        ROWS BETWEEN {_KIJUN - 1} PRECEDING AND CURRENT ROW))
                   / 2.0 AS k,
                   (max(high) OVER (PARTITION BY series_key ORDER BY rn
                        ROWS BETWEEN {_SENKOU_B - 1} PRECEDING AND CURRENT ROW)
                    + min(low) OVER (PARTITION BY series_key ORDER BY rn
                        ROWS BETWEEN {_SENKOU_B - 1} PRECEDING AND CURRENT ROW))
                   / 2.0 AS sb
            FROM seq
        )
        SELECT series_key, date,
               round(t, 6) AS tenkan,
               round(k, 6) AS kijun,
               round(lag((t + k) / 2.0, {_DISP}) OVER w, 6) AS senkou_a,
               round(lag(sb, {_DISP}) OVER w, 6) AS senkou_b,
               round(lead(close, {_DISP}) OVER w, 6) AS chikou
        FROM mids
        WINDOW w AS (PARTITION BY series_key ORDER BY rn)
    """,
    "heikin_ashi": f"""
        WITH RECURSIVE {DAILY_BARS_RN_SQL}, sd AS (
            SELECT series_key, date, rn, high, low,
                   CAST(open AS DECIMAL(18,6)) AS o_d,
                   CAST(high AS DECIMAL(18,6)) AS h_d,
                   CAST(low AS DECIMAL(18,6)) AS l_d,
                   CAST(close AS DECIMAL(18,6)) AS c_d
            FROM seq
        ), rec(series_key, date, rn, high, low, ha_open_d, ha_close_d) AS (
            SELECT series_key, date, rn, high, low,
                   CAST(round((o_d + c_d) * CAST(0.5 AS DECIMAL(2,1)), 6)
                        AS DECIMAL(18,6)),
                   CAST(round((o_d + h_d + l_d + c_d)
                              * CAST(0.25 AS DECIMAL(3,2)), 6)
                        AS DECIMAL(18,6))
            FROM sd WHERE rn = 1
            UNION ALL
            SELECT s.series_key, s.date, s.rn, s.high, s.low,
                   {_HA_OPEN_NEXT}, {_HA_CLOSE}
            FROM rec r JOIN sd s
              ON s.series_key = r.series_key AND s.rn = r.rn + 1
        )
        SELECT series_key, date,
               round(CAST(ha_open_d AS DOUBLE), 6) AS ha_open,
               round(greatest(high, CAST(ha_open_d AS DOUBLE),
                              CAST(ha_close_d AS DOUBLE)), 6) AS ha_high,
               round(least(low, CAST(ha_open_d AS DOUBLE),
                           CAST(ha_close_d AS DOUBLE)), 6) AS ha_low,
               round(CAST(ha_close_d AS DOUBLE), 6) AS ha_close
        FROM rec
    """,
}
