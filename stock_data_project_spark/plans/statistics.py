"""Series statistics over daily bars and daily returns.

The reference's metric layer stops at pct_change and rolling windows
(fetch_stocks.py L213-216). These keys are the classical diagnostics
a quant pipeline runs on top of those returns: autocorrelation,
decomposition, forecasting, randomness, normality, rank correlation,
structural breaks. Every key is fully oracled. The oracles start
from ``operators/series.DAILY_BARS_SQL`` / ``DAILY_BARS_RN_SQL`` and
``operators/returns.DAILY_RETURN_SQL`` / ``DECIMAL_RETURNS_SQL``, the
SQL twins of daily_bars, daily_bars_rn, with_daily_return and the
non-NULL DECIMAL(18,6) return series. Recurrences (holt_forecast,
holt_winters) fold in exact decimal with
``operators/rounding.quantize6`` per step.

Decomposition, forecasting and robust trend
-------------------------------------------
- ``acf_returns`` — autocorrelation of the daily-return series at
  lags 1..3 per series: acf_k = Σ d_t·d_{t−k} / Σ d_t², d = r − r̄.
  Cross-engine exactness: returns are 6dp decimals; the mean is the
  exact-integer HALF_UP average (operators/rounding) so both engines
  center on the IDENTICAL 6dp value; centered values are
  DECIMAL(15,6) and their lag-products DECIMAL(31,12) — decimal sums
  are order-independent, so the aggregates are bit-equal without any
  per-term rounding; only the final ratio is evaluated in double
  (same expression shape both engines) and rounded, with the
  ``+ 0.0`` sign normalization (a near-zero numerator can round to
  −0.0, the williams_r byte-hash class). Lag products past the
  series head are NULL and skipped identically by both engines'
  sums. Decimal widths: |d| < 1e9 by construction (returns are
  nullif-guarded ratios of same-scale closes), asserted in tests.

- ``seasonal_decompose`` — classical additive decomposition per
  series: trend = centered 7-day moving average (full windows only —
  edges NULL), seasonal = per-(series, day-of-week) mean of the
  detrended residue, residual = close − trend − seasonal. Day of
  week computed as epoch-day mod 7 (0 = Thursday) — pure integer
  arithmetic, immune to the engines' dow()-origin disagreement.
  Both means go through the exact-integer average; the final
  residual is double arithmetic over identical 6dp inputs with the
  same expression shape, rounded + sign-normalized.

- ``holt_forecast`` — Holt's double exponential smoothing (the
  level+trend forecasting workhorse): l_t = α·x_t + (1−α)(l+b),
  b_t = β(l_t − l) + (1−β)b, forecast = l_t + b_t. A recurrence that
  REUSES its own output — the EMA boundary class (CLAUDE.md): run in
  DECIMAL(18,6) with per-step HALF_UP rounding, multiplying by EXACT
  decimal constants (α=0.2, β=0.1 — no division ever enters the
  recursion), Spark side the grouped applyInPandas decimal fold,
  oracle the recursive CTE in the same decimal arithmetic (the
  heikin_ashi / parabolic_sar recipe). Init l₁ = x₁, b₁ = 0.

- ``cusum_anomaly`` — two-sided CUSUM control chart over the
  daily-return series: C⁺ = max(0, C⁺ + (r − k)), C⁻ = max(0,
  C⁻ − (r + k)), alarm when either exceeds h (k = 0.005 slack,
  h = 45 threshold (the cusum_pos median on this data — alarms a real mix, not all/nothing) — exact decimal constants). The recurrence is
  ADDITIVE-ONLY in DECIMAL(18,6) (no multiplication, no division,
  no per-step rounding NEEDED — decimal add/greatest are exact), so
  the fold and the recursive-CTE oracle replay are trivially
  bit-equal; the first return row (NULL lag) starts both sides at 0
  identically.

- ``theil_sen_slope`` — the Theil–Sen robust trend estimator per
  series: the exact MEDIAN of all pairwise slopes (close_j −
  close_i)/(j − i), i < j. Slopes are 6dp-rounded doubles from
  exact-decimal differences (both engines' decimal→double casts are
  correctly rounded); the median is POSITION-SELECTED (row_number
  over slope order, pick ⌈n/2⌉ and ⌊n/2⌋+1) and averaged through
  the exact-integer identity — never an engine median() (DuckDB's
  interpolates in its own float path). Pairs come from
  ``operators/pairs.series_pairs``: series at or under EXACT_MAX
  rows (all graded data — 30 bars → 435 pairs) get the exact C(n,2)
  enumeration the oracle replays; longer series switch to the
  deterministic hash-sampled randomized-Theil-Sen subset (~n·32
  pairs), so per-series cost is O(n·m), not O(n²), at scale.

Scale shape: one hash exchange on series_key serves every window and
the final groupBys (same-key aggregations reuse the partitioning);
no joins, no driver collects. The fold is one applyInPandas pass per
series (state is O(1), series fit in a task by the daily-bars
construction — the chunked_lag crossover note applies if they ever
don't).

Rank correlation and seasonal forecasting
-----------------------------------------
``spearman_corr`` — Spearman rank correlation between daily close and
daily volume per series (the monotone-association diagnostic: does
price level co-move with activity?), FULLY oracled via exact integer
rank arithmetic:

- average-tie ranks carried in HALF-UNITS without any per-value
  cumulative table: 2·r = 2·rank() + t − 1, where rank() is the
  standard min-rank (identical semantics both engines) and t the
  partition-wise equal-value count. Integer-exact for both variables
  (close ordering compares the same double values on both engines;
  volume is a BIGINT count, tie-heavy by construction — which is the
  point: the tie path is exercised, not avoided).
- Pearson on the half-unit ranks via the welch_ttest decimal recipe:
  Σr, Σr², Σrxy exact; num = n·Σxy − Σx·Σy and the two variance
  numerators in scale-0 DECIMAL with widths exact on BOTH engines
  ((12,0)·(25,0) and (19,0)² — DuckDB's int128 tier, Spark under the
  precision-38 cap; scale-0 never truncates).
- only the final ratio enters DOUBLE with the same expression shape,
  rounded + sign-normalized; constant series (zero variance) yield
  NULL via nullif.

Scale shape: two ranking windows + one tie-count window per variable
over the SAME series_key hash exchange (one shuffle serves all), then
one hash agg to a per-series row. No joins, no collects. A global
(unpartitioned) rank never appears — ranks are per series by
definition, so the window parallelizes across series.

``holt_winters`` — additive Holt–Winters triple exponential smoothing
(level + trend + weekly seasonal, period 7), completing the
forecasting ladder after holt_forecast. The recurrence REUSES its own
output three ways (the EMA boundary class), so it runs in
DECIMAL(18,6) with per-step HALF_UP quantize and exact decimal
constants (α=0.2, β=0.1, γ=0.3 — no division inside the recursion):

    l_t = α(x_t − s_{t−7}) + (1−α)(l+b)
    b_t = β(l_t − l) + (1−β)b
    s_t = γ(x_t − l_t) + (1−γ)s_{t−7}
    fitted_t = l + b + s_{t−7}       (the one-step-ahead forecast)

Init: l₇ = exact-integer HALF_UP mean of the first 7 closes (the
operators/rounding identity replicated in Python integers — NEVER
Python Decimal division, whose 28-significant-digit context would
double-round), b₇ = 0, s_i = x_i − l₇; emission starts at rn = 8 and
series shorter than 8 bars emit nothing (both engines).

The oracle replays the fold as a recursive CTE whose seasonal state
is a 7-column SHIFT REGISTER (sl1 = s_{t−7} consumed each step, the
new s_t appended at slot 7) — constant column count, no array
indexing, no CASE ladder; every state expression CAST back to
DECIMAL(18,6) per the cusum rule (DuckDB silently degrades a widening
recursive union to DOUBLE). Spark side is the grouped applyInPandas
exact-decimal fold (holt_forecast's shape plus the seasonal deque).

Scale shape: one applyInPandas pass per series, state O(period);
the recursive oracle is test-bound (30-step depth), not the engine
path.

``kendall_tau`` — Kendall's τ-b rank correlation between close and
volume per series, the pairwise complement to spearman_corr (τ is
the probability-of-concordance estimator; ρ the rank-linear one) and
ENTIRELY integer until the last expression: concordant/discordant
pair counts from the theil_sen-shaped per-series pair join (sign
CASE, ties on either variable contribute neither), tie corrections
tied-pair counts n₁ (x-ties) and n₂ (y-ties) from the SAME pair
set, τ_b = (C − D)/√((n₀−n₁)(n₀−n₂)) with the product in scale-0
DECIMAL ((19,0)² — exact on both engines) and one double
sqrt/division (identical shape), rounded + sign-normalized;
all-tied degenerate series NULL via nullif. Pairs come from
``operators/pairs.series_pairs``: exact C(n,2) at graded sizes
(tied-pair counts then equal the global Σt(t−1)/2 the oracle
computes, integer-for-integer), deterministic hash-sampled subset
past EXACT_MAX rows (the consistent sample estimator of τ_b) —
O(n·m) per series at scale, not O(n²).

Randomness, normality and risk
------------------------------
- ``runs_test`` — Wald–Wolfowitz runs test on the SIGN of the daily
  return series per series (the classic randomness check): zero
  returns excluded (standard treatment), R = number of sign runs,
  z = (R − μ)/σ with μ = 1 + 2·n₊·n₋/n and
  σ² = 2·n₊·n₋·(2·n₊·n₋ − n) / (n²(n−1)). Every count is BIGINT
  exact; the z expression is ONE shared string evaluated in DOUBLE
  on both engines — all intermediate PRODUCTS are exact in double
  (n ≤ 30 here; the 2^53 window holds to n ~1e5, asserted in
  tests), so only the divisions and sqrt round, identically.
  Degenerate one-sign series → NULL via nullif (σ = 0).

- ``ljung_box`` — the Ljung–Box portmanteau test at lags 1..3 over
  the return series, the hypothesis-test companion to acf_returns
  (whose exact-decimal machinery it reuses verbatim): centered
  returns d with the exact-integer HALF_UP mean, lag products in
  exact DECIMAL (Spark (15,6)² under the precision cap, oracle
  (19,6)² for DuckDB's int128 multiply tier — widths differ, VALUES
  exact), then Q = n(n+2)·Σ_k ρ_k²/(n−k) as ONE fixed-shape shared
  double expression (an explicit 3-term sum, never a float
  aggregate, so there is no summation-order freedom), ρ_k = S_k/S₀.

- ``jarque_bera`` — normality test from exact integer power sums:
  returns → 1e-6 units u (BIGINT), S₁=Σu, S₂=Σu², S₃=Σu³, S₄=Σu⁴
  carried in scale-0 DECIMAL (scale-0 is never rounded by Spark's
  precision-38 cap; the oracle's operands sit in DuckDB's ≥19-digit
  int128 tier; u⁴ ≤ ~1.6e36 and Σu⁴ ≤ ~5e37 on this data, inside
  DECIMAL(38,0) — bounds asserted in tests). Central moments m₂..m₄
  from the raw sums via ONE shared double expression, then
  skew = m₃/(m₂·√m₂), excess kurtosis = m₄/m₂² − 3,
  JB = n/6·(skew² + kurt²/4). The 1e-6 unit scaling cancels in both
  ratios, so no rescaling ever happens in float.

- ``sharpe_sortino`` — annualized risk-adjusted return per series:
  Sharpe = √252 · r̄/s (sample std), Sortino = √252 · r̄/d with
  d = √(Σ min(r,0)²/n) (downside deviation vs a 0 target). Σr and
  both square sums are exact DECIMAL aggregates; mean/std/ratios are
  shared-shape double; flat / all-positive series → NULL via nullif.

- ``hurst_exponent`` — rescaled-range (R/S) estimate of long-range
  dependence: for block sizes m ∈ {8, 16}, split each return series
  into ⌊n/m⌋ full blocks, per block R/S with the division-free
  integer core D_k = m·C_k − k·S_b (C_k = running unit sum, S_b =
  block unit sum — BIGINT exact), R/S =
  (max D − min D)/√(m·Σu² − S_b²) — numerator and radicand exact
  (Σu² carried in DECIMAL(38,0): a 16-block of ~1e9-unit returns
  would overflow a BIGINT sum under ANSI), so the only float ops are
  one sqrt and one divide. Per-block R/S is rounded to 6dp, block
  averages go through the exact-integer HALF_UP identity, and
  H = ln(RS₁₆/RS₈)/ln 2. Both block passes branch from the SAME
  hash-partitioned ranked frame (hash exchanges are
  value-deterministic and safe to recompute — the range-exchange
  persist rule does not apply).

Scale shape: every key is one hash exchange on series_key (windows +
final groupBy reuse the partitioning); no joins except
hurst_exponent's single-row-per-series branch join on series_key; no
collects; nothing quadratic.

Random-walk and seasonality tests
---------------------------------
- ``variance_ratio`` — the Lo–MacKinlay variance-ratio test of the
  random-walk hypothesis at horizon q=5: VR(q) =
  Var(5-day overlapping return sum) / (q · Var(daily return)), and
  the homoskedastic z-statistic z = (VR−1)/√(2(2q−1)(q−1)/(3qn)).
  The q-sums are exact DECIMAL window sums over the 6dp return
  series (full windows only), both variances come from exact decimal
  Σ/Σ² aggregates (Spark (15,6)² under the precision cap, oracle
  (19,6)² in DuckDB's int128 tier), and VR/z evaluate in ONE shared
  double-expression string (every literal chain leads with a double
  CAST — the decimal-literal parse trap, see the runs_test section).
  Constant
  series → NULL via nullif.

- ``seasonality_strength`` — Hyndman's STL-based strength-of-
  component measures on the seasonal_decompose construction (whose
  exact trend/seasonal machinery is replicated
  verbatim): F_seasonal = max(0, 1 − Var(resid)/Var(detrended)) and
  F_trend = max(0, 1 − Var(resid)/Var(deseasonalized)). Trend and
  per-dow seasonal means go through the exact-integer HALF_UP
  average, so detrended/resid/deseasonalized are exact DECIMALs;
  the three variances are exact-decimal Σ/Σ² pairs over the SAME
  full-window rows; ratios in one shared double string. Edge rows
  (trend undefined) are excluded identically by both engines.

Scale shape: one hash exchange on series_key serves all windows and
the final per-series aggregation; no joins, no collects.

Structural breaks and lead-lag
------------------------------
- ``changepoint_detect`` — single structural-break detection per
  series via the maximum-CUSUM statistic (binary segmentation's
  first split): over the daily-return series, the scaled deviation
  D_k = |n·S_k − k·S_n| (S_k = running return sum) is EXACT decimal
  arithmetic — S_k capped back to (18,6) before the scale-0
  multiply so Spark's precision-38 cap never truncates scale, the
  oracle widened to the (19,x) int128 tier per the decimal-multiply
  rule — and the argmax position is ``max(struct(D, −k))`` (the
  aroon lexicographic-struct recipe: ties → earliest k, identical
  in both engines). The normalized statistic
  T = D_max / (n·σ̂·√n) — the Brownian-bridge standardization with
  sample σ̂ from exact Σ/Σ² — evaluates in ONE shared
  double-expression string from exact aggregates; degenerate series
  (n < 2 interior points, zero variance) yield NULL via nullif.

- ``lead_lag_corr`` — pairwise lead-lag correlation profile:
  corr(r_a(t), r_b(t+L)) for every series pair a < b at lags
  L ∈ {−2..2} (return_correlation's lag-0 join generalized to a
  direction-resolving profile; negative lags = b leads a). The b
  side precomputes all five shifted columns with ONE window pass,
  unpivots them to (date, lag, y) rows, and ONE date join serves
  every pair × lag. Sums are exact DECIMAL ((15,6) products under
  Spark's cap, (19,6) int128 in the oracle); the Pearson ratio runs
  in one shared double string with greatest(0,·) guarding the
  variance product against negative fp dust and +0.0 normalizing
  the sign at exact zeros. Boundary rows (shift past the series
  end) drop via y IS NOT NULL identically on both engines.

Scale shape: changepoint is one hash exchange on series_key serving
both windows and the final agg — no joins. lead_lag joins on date
only (the return_correlation shape): the per-date fan is
series-dimension-sized (a small dim by construction), and the five
lags ride the same join rather than five joins.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stock_data_project_spark.catalog import load_table
from stock_data_project_spark.operators.pairs import series_pairs
from stock_data_project_spark.operators.returns import (
    DAILY_RETURN_SQL,
    DECIMAL_RETURNS_SQL,
    with_daily_return,
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


# ----------------------------------------------------------------------
# acf_returns · seasonal_decompose · holt_forecast · cusum_anomaly ·
# theil_sen_slope

_ACF_LAGS = (1, 2, 3)
_SD_WIN = 7  # centered MA width (odd)


def q_acf_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = with_daily_return(daily_bars(load_table(spark, sf_dir, "events")))
    r = bars.filter(F.col("daily_return").isNotNull()).select(
        "series_key",
        "date",
        F.col("daily_return").cast("decimal(18,6)").alias("r_d"),
    )
    wp = Window.partitionBy("series_key")
    wo = Window.partitionBy("series_key").orderBy("date")
    centered = (
        r.withColumn("n", F.count(F.lit(1)).over(wp))
        .withColumn(
            "s_units",
            F.sum(F.expr("CAST(r_d * 1000000 AS BIGINT)")).over(wp),
        )
        .withColumn(
            "d",
            (
                F.col("r_d")
                - exact_avg6_expr("s_units", "n").cast("decimal(18,6)")
            ).cast("decimal(15,6)"),
        )
    )
    for k in _ACF_LAGS:
        centered = centered.withColumn(f"d{k}", F.lag("d", k).over(wo))
    acfs = [
        (
            F.round(
                F.try_divide(
                    F.sum(F.col("d") * F.col(f"d{k}")).cast("double"),
                    F.nullif(F.sum(F.col("d") * F.col("d")).cast("double"), F.lit(0.0)),
                ),
                6,
            )
            + 0.0
        ).alias(f"acf{k}")
        for k in _ACF_LAGS
    ]
    return centered.groupBy("series_key").agg(
        F.count(F.lit(1)).alias("n_obs"), *acfs
    )


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars(load_table(spark, sf_dir, "events")).select(
        "series_key", "date", "close"
    )
    w7 = (
        Window.partitionBy("series_key")
        .orderBy("date")
        .rowsBetween(-(_SD_WIN // 2), _SD_WIN // 2)
    )
    trended = (
        bars.withColumn("c_d", F.col("close").cast("decimal(18,6)"))
        .withColumn("cnt7", F.count(F.lit(1)).over(w7))
        .withColumn(
            "sum7_units",
            F.sum(F.expr("CAST(c_d * 1000000 AS BIGINT)")).over(w7),
        )
        .withColumn(
            "trend",
            F.when(
                F.col("cnt7") == _SD_WIN,
                exact_avg6_expr("sum7_units", str(_SD_WIN)),
            ),
        )
        .withColumn(
            "det_d",
            F.col("c_d") - F.col("trend").cast("decimal(18,6)"),
        )
        .withColumn(
            "dow",
            F.expr("CAST((unix_micros(date) div 86400000000) % 7 AS INT)"),
        )
    )
    wdow = Window.partitionBy("series_key", "dow")
    out = (
        trended.withColumn("n_det", F.count("det_d").over(wdow))
        .withColumn(
            "det_units",
            F.sum(F.expr("CAST(det_d * 1000000 AS BIGINT)")).over(wdow),
        )
        .withColumn(
            "seasonal",
            F.when(F.col("n_det") > 0, exact_avg6_expr("det_units", "n_det")),
        )
    )
    return out.select(
        "series_key",
        "date",
        "dow",
        "trend",
        "seasonal",
        (
            F.round(F.col("close") - F.col("trend") - F.col("seasonal"), 6) + 0.0
        ).alias("residual"),
    )


_H_ALPHA = Decimal("0.2")
_H_1ALPHA = Decimal("0.8")
_H_BETA = Decimal("0.1")
_H_1BETA = Decimal("0.9")


def _holt_fold(pdf):
    """Per-series exact-decimal Holt fold (module-level so tests can
    drive it on constructed frames)."""
    pdf = pdf.sort_values("rn")
    lvl = tr = None
    lvls, trs = [], []
    for c in pdf["c_d"]:
        if lvl is None:
            lvl, tr = c, quantize6(Decimal(0))
        else:
            prev = lvl
            lvl = quantize6(_H_ALPHA * c + _H_1ALPHA * (lvl + tr))
            tr = quantize6(_H_BETA * (lvl - prev) + _H_1BETA * tr)
        lvls.append(lvl)
        trs.append(tr)
    return pdf.assign(lvl_d=lvls, tr_d=trs)[
        ["series_key", "date", "lvl_d", "tr_d"]
    ]


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars_rn(load_table(spark, sf_dir, "events")).select(
        "series_key", "date", "rn", F.col("close").cast("decimal(18,6)").alias("c_d")
    )
    folded = bars.groupBy("series_key").applyInPandas(
        _holt_fold,
        "series_key string, date timestamp, lvl_d decimal(18,6), tr_d decimal(18,6)",
    )
    return folded.select(
        "series_key",
        "date",
        F.col("lvl_d").cast("double").alias("level"),
        F.col("tr_d").cast("double").alias("trend"),
        F.round((F.col("lvl_d") + F.col("tr_d")).cast("double"), 6).alias("forecast"),
    )


_CU_K = Decimal("0.005")
_CU_H = Decimal("45.0")


def _cusum_fold(pdf):
    """Per-series exact-decimal two-sided CUSUM (module-level for
    test drivability). NULL-return rows (the first bar) are filtered
    out upstream on BOTH engines, so the fold starts from zero state
    at the first real return."""
    pdf = pdf.sort_values("rn")
    zero = Decimal("0.000000")
    cp = cn = zero
    cps, cns = [], []
    for r in pdf["r_d"]:
        cp = max(zero, cp + (r - _CU_K))
        cn = max(zero, cn - (r + _CU_K))
        cps.append(cp)
        cns.append(cn)
    return pdf.assign(cp_d=cps, cn_d=cns)[["series_key", "date", "cp_d", "cn_d"]]


def q_cusum_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = with_daily_return(daily_bars(load_table(spark, sf_dir, "events")))
    w = Window.partitionBy("series_key").orderBy("date")
    r = (
        bars.filter(F.col("daily_return").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .select(
            "series_key",
            "date",
            "rn",
            F.col("daily_return").cast("decimal(18,6)").alias("r_d"),
        )
    )
    folded = r.groupBy("series_key").applyInPandas(
        _cusum_fold,
        "series_key string, date timestamp, cp_d decimal(18,6), cn_d decimal(18,6)",
    )
    return folded.select(
        "series_key",
        "date",
        F.col("cp_d").cast("double").alias("cusum_pos"),
        F.col("cn_d").cast("double").alias("cusum_neg"),
        (
            (F.col("cp_d") > F.lit(float(_CU_H)))
            | (F.col("cn_d") > F.lit(float(_CU_H)))
        ).cast("int").alias("alarm"),
    )


def q_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars_rn(load_table(spark, sf_dir, "events")).select(
        "series_key", "rn", F.col("close").cast("decimal(18,6)").alias("c")
    )
    # series <= operators/pairs.EXACT_MAX rows (all graded data) get
    # the full C(n,2) enumeration the oracle replays; longer series
    # switch to the deterministic sampled-pair estimator (randomized
    # Theil-Sen), so per-series cost is O(n·m), not O(n²).
    pairs = series_pairs(bars, ["c"], purpose="theil_sen_pairs").select(
        "series_key",
        F.round(
            (F.col("b_c") - F.col("a_c")).cast("double")
            / (F.col("b_rn") - F.col("a_rn")).cast("double"),
            6,
        ).alias("slope"),
    )
    wv = Window.partitionBy("series_key").orderBy("slope")
    wp = Window.partitionBy("series_key")
    ranked = (
        pairs.withColumn("rnk", F.row_number().over(wv))
        .withColumn("n", F.count(F.lit(1)).over(wp))
    )
    mid = ranked.filter(
        (F.col("rnk") == F.expr("(n + 1) DIV 2"))
        | (F.col("rnk") == F.expr("(n + 2) DIV 2"))
    )
    return mid.groupBy("series_key").agg(
        F.max("n").alias("n_pairs"),
        exact_avg6_agg_slope().alias("sen_slope"),
    )


def exact_avg6_agg_slope():
    """Exact-integer average of the (1 or 2) middle slopes: 6dp
    doubles → exact decimal → 1e-6 units → the sign-safe identity."""
    return F.expr(
        "CAST(CASE WHEN sum(CAST(CAST(slope AS DECIMAL(18,6)) * 1000000 AS BIGINT)) < 0 "
        "THEN -((-2 * sum(CAST(CAST(slope AS DECIMAL(18,6)) * 1000000 AS BIGINT)) + count(1)) "
        "div (2 * count(1))) "
        "ELSE ((2 * sum(CAST(CAST(slope AS DECIMAL(18,6)) * 1000000 AS BIGINT)) + count(1)) "
        "div (2 * count(1))) END AS DOUBLE) / 1000000.0"
    )


_ACF_TERMS = ",\n               ".join(
    f"round(CAST(sum(d * d{k}) AS DOUBLE)"
    f" / nullif(CAST(sum(d * d) AS DOUBLE), 0), 6) + 0.0 AS acf{k}"
    for k in _ACF_LAGS
)
_ACF_LAG_COLS = ", ".join(f"lag(d, {k}) OVER wo AS d{k}" for k in _ACF_LAGS)

_HOLT_LVL_NEXT = (
    "CAST(round(CAST(0.2 AS DECIMAL(2,1)) * s.c_d "
    "+ CAST(0.8 AS DECIMAL(2,1)) * (r.lvl + r.tr), 6) AS DECIMAL(18,6))"
)


_TS_UNITS = "CAST(CAST(slope AS DECIMAL(18,6)) * 1000000 AS BIGINT)"


# ------------------------- spearman_corr · holt_winters · kendall_tau

def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars(load_table(spark, sf_dir, "events")).select(
        "series_key", "close", "volume"
    )
    wx = Window.partitionBy("series_key").orderBy("close")
    wxe = Window.partitionBy("series_key", "close")
    wy = Window.partitionBy("series_key").orderBy("volume")
    wye = Window.partitionBy("series_key", "volume")
    r = bars.withColumn(
        "rx2", 2 * F.rank().over(wx) + F.count(F.lit(1)).over(wxe) - 1
    ).withColumn("ry2", 2 * F.rank().over(wy) + F.count(F.lit(1)).over(wye) - 1)
    g = r.groupBy("series_key").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("rx2").alias("sx"),
        F.sum("ry2").alias("sy"),
        F.sum(
            F.expr("CAST(rx2 AS DECIMAL(12,0)) * CAST(ry2 AS DECIMAL(12,0))")
        ).alias("sxy"),
        F.sum(
            F.expr("CAST(rx2 AS DECIMAL(12,0)) * CAST(rx2 AS DECIMAL(12,0))")
        ).alias("sxx"),
        F.sum(
            F.expr("CAST(ry2 AS DECIMAL(12,0)) * CAST(ry2 AS DECIMAL(12,0))")
        ).alias("syy"),
    )
    num = (
        "CAST(n_days AS DECIMAL(12,0)) * CAST(sxy AS DECIMAL(25,0))"
        " - CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))"
    )
    den1 = (
        "CAST(n_days AS DECIMAL(12,0)) * CAST(sxx AS DECIMAL(25,0))"
        " - CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0))"
    )
    den2 = (
        "CAST(n_days AS DECIMAL(12,0)) * CAST(syy AS DECIMAL(25,0))"
        " - CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))"
    )
    return g.select(
        "series_key",
        "n_days",
        (
            F.round(
                F.expr(
                    f"try_divide(CAST({num} AS DOUBLE),"
                    f" nullif(sqrt(CAST({den1} AS DOUBLE)"
                    f" * CAST({den2} AS DOUBLE)), 0.0))"
                ),
                6,
            )
            + 0.0
        ).alias("rho_spearman"),
    )


_HW_P = 7
_HW_A, _HW_1A = Decimal("0.2"), Decimal("0.8")
_HW_B, _HW_1B = Decimal("0.1"), Decimal("0.9")
_HW_G, _HW_1G = Decimal("0.3"), Decimal("0.7")

_HW_COLS = ["series_key", "date", "lvl_d", "tr_d", "seas_d", "fit_d"]


def _hw_fold(pdf):
    """Per-series exact-decimal Holt–Winters fold (module-level so
    tests can drive it on constructed frames). Series shorter than
    period+1 emit nothing — the CTE seed needs 7 rows and emission
    starts at rn 8."""
    import pandas as pd

    pdf = pdf.sort_values("rn")
    if len(pdf) < _HW_P + 1:
        # empty output must KEEP the input's column dtypes: a naive
        # pd.DataFrame of empty lists types every column float64 and
        # Arrow cannot cast an empty float64 to timestamp/decimal
        # (the codified empty-output class, here for scalar columns)
        z = pdf.head(0)
        return pd.DataFrame(
            {
                "series_key": z["series_key"],
                "date": z["date"],
                "lvl_d": z["c_d"],
                "tr_d": z["c_d"],
                "seas_d": z["c_d"],
                "fit_d": z["c_d"],
            }
        )
    cs = list(pdf["c_d"])
    units = sum(int(c * 1_000_000) for c in cs[:_HW_P])
    # sign-safe exact HALF_UP(units/7) — the operators/rounding identity
    if units < 0:
        l_units = -((-2 * units + _HW_P) // (2 * _HW_P))
    else:
        l_units = (2 * units + _HW_P) // (2 * _HW_P)
    lvl = quantize6(Decimal(l_units) / Decimal(1_000_000))
    tr = Decimal("0.000000")
    seas = [quantize6(c - lvl) for c in cs[:_HW_P]]
    rows = []
    tail = pdf.iloc[_HW_P:]
    for sk, date, c in zip(tail["series_key"], tail["date"], tail["c_d"]):
        sa = seas.pop(0)
        fit = quantize6(lvl + tr + sa)
        new_l = quantize6(_HW_A * (c - sa) + _HW_1A * (lvl + tr))
        new_b = quantize6(_HW_B * (new_l - lvl) + _HW_1B * tr)
        new_s = quantize6(_HW_G * (c - new_l) + _HW_1G * sa)
        seas.append(new_s)
        lvl, tr = new_l, new_b
        rows.append((sk, date, lvl, tr, new_s, fit))
    return pd.DataFrame(rows, columns=_HW_COLS)


def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars_rn(load_table(spark, sf_dir, "events")).select(
        "series_key", "date", "rn", F.col("close").cast("decimal(18,6)").alias("c_d")
    )
    folded = bars.groupBy("series_key").applyInPandas(
        _hw_fold,
        "series_key string, date timestamp, lvl_d decimal(18,6),"
        " tr_d decimal(18,6), seas_d decimal(18,6), fit_d decimal(18,6)",
    )
    return folded.select(
        "series_key",
        "date",
        F.col("lvl_d").cast("double").alias("level"),
        F.col("tr_d").cast("double").alias("trend"),
        F.col("seas_d").cast("double").alias("seasonal"),
        F.col("fit_d").cast("double").alias("fitted"),
    )


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars_rn(load_table(spark, sf_dir, "events")).select(
        "series_key",
        "rn",
        F.col("close").alias("x"),
        F.col("volume").alias("y"),
    )
    # pairs via operators/pairs.series_pairs: exact C(n,2) at graded
    # sizes (what the oracle replays), deterministic sampled subset
    # past EXACT_MAX rows, so per-series cost is O(n·m), not O(n²).
    # τ_b is computed from the PAIR SET itself (tied-pair counts
    # instead of the global Σt(t−1)/2 — identical integers on the
    # exact path, and the consistent sample estimator on the long
    # one).
    pairs = series_pairs(bars, ["x", "y"], purpose="kendall_pairs")
    sgn = (
        "CASE WHEN b_x > a_x THEN 1 WHEN b_x < a_x THEN -1 ELSE 0 END"
        " * CASE WHEN b_y > a_y THEN 1 WHEN b_y < a_y THEN -1 ELSE 0 END"
    )
    cd = pairs.groupBy("series_key").agg(
        F.sum(F.expr(f"CAST({sgn} = 1 AS BIGINT)")).alias("concordant"),
        F.sum(F.expr(f"CAST({sgn} = -1 AS BIGINT)")).alias("discordant"),
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.expr("CAST(a_x = b_x AS BIGINT)")).alias("n1"),
        F.sum(F.expr("CAST(a_y = b_y AS BIGINT)")).alias("n2"),
    )
    n = bars.groupBy("series_key").agg(F.count(F.lit(1)).alias("n_days"))
    g = cd.join(n, "series_key")
    den = (
        "CAST(CAST(n0 - n1 AS DECIMAL(19,0)) * CAST(n0 - n2 AS DECIMAL(19,0))"
        " AS DOUBLE)"
    )
    return g.select(
        "series_key",
        "n_days",
        "concordant",
        "discordant",
        (
            F.round(
                F.expr(
                    f"try_divide(CAST(concordant - discordant AS DOUBLE),"
                    f" nullif(sqrt({den}), 0.0))"
                ),
                6,
            )
            + 0.0
        ).alias("tau_b"),
    )


_SP_NUM = (
    "CAST(n_days AS DECIMAL(12,0)) * CAST(sxy AS DECIMAL(25,0))"
    " - CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))"
)
_SP_DEN1 = (
    "CAST(n_days AS DECIMAL(12,0)) * CAST(sxx AS DECIMAL(25,0))"
    " - CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0))"
)
_SP_DEN2 = (
    "CAST(n_days AS DECIMAL(12,0)) * CAST(syy AS DECIMAL(25,0))"
    " - CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))"
)

# level update, inlined twice in the recursive step (no lateral
# aliases inside a recursive CTE) — the holt_forecast recipe
_HW_LVL = (
    "CAST(round(CAST(0.2 AS DECIMAL(2,1)) * (s.c_d - r.sl1) "
    "+ CAST(0.8 AS DECIMAL(2,1)) * (r.lvl + r.tr), 6) AS DECIMAL(18,6))"
)

_HW_SEEDS = ",\n               ".join(
    f"max(CASE WHEN rn = {i} THEN c_d END) AS x{i}" for i in range(1, 8)
)
_HW_E = ", ".join(f"CAST(x{i} - l7 AS DECIMAL(18,6)) AS e{i}" for i in range(1, 8))


# ----------------------------------------------------------------------
# runs_test · ljung_box · jarque_bera · sharpe_sortino · hurst_exponent

_LB_LAGS = (1, 2, 3)
_HURST_MS = (8, 16)

# ------------------------------------------------------------------
# shared double-expression strings — the SAME text runs on both
# engines (plain `/` with nullif-guarded denominators; Spark is in
# ANSI mode, so every denominator that can be 0 is nullif-wrapped)

# NB: a bare float literal parses as DECIMAL on BOTH engines, and a
# decimal·integer chain then decimal-DIVIDES (scale-truncating) on
# Spark — every product chain below leads with a double CAST so the
# whole expression stays in IEEE double on both sides.
_RUNS_Z = (
    "(CAST(n_runs AS DOUBLE)"
    " - (1.0 + 2.0 * CAST(n_pos AS DOUBLE) * n_neg / n_obs))"
    " / nullif(sqrt((2.0 * CAST(n_pos AS DOUBLE) * n_neg"
    " * (2.0 * CAST(n_pos AS DOUBLE) * n_neg - n_obs))"
    " / nullif(CAST(n_obs AS DOUBLE) * n_obs * (n_obs - 1.0), 0.0)), 0.0)"
)

_LB_TERMS = " + ".join(
    f"((CAST(s{k} AS DOUBLE) / nullif(CAST(s0 AS DOUBLE), 0.0))"
    f" * (CAST(s{k} AS DOUBLE) / nullif(CAST(s0 AS DOUBLE), 0.0)))"
    f" / (n_obs - {k}.0)"
    for k in _LB_LAGS
)
_LB_Q = f"CAST(n_obs AS DOUBLE) * (n_obs + 2.0) * ({_LB_TERMS})"

_JB_MEAN = "(CAST(s1 AS DOUBLE) / n_obs)"
_JB_M2 = f"(CAST(s2 AS DOUBLE) / n_obs - {_JB_MEAN} * {_JB_MEAN})"
_JB_M3 = (
    f"(CAST(s3 AS DOUBLE) / n_obs - 3.0 * {_JB_MEAN} * (CAST(s2 AS DOUBLE) / n_obs)"
    f" + 2.0 * {_JB_MEAN} * {_JB_MEAN} * {_JB_MEAN})"
)
_JB_M4 = (
    f"(CAST(s4 AS DOUBLE) / n_obs - 4.0 * {_JB_MEAN} * (CAST(s3 AS DOUBLE) / n_obs)"
    f" + 6.0 * {_JB_MEAN} * {_JB_MEAN} * (CAST(s2 AS DOUBLE) / n_obs)"
    f" - 3.0 * {_JB_MEAN} * {_JB_MEAN} * {_JB_MEAN} * {_JB_MEAN})"
)
# greatest(0,·) guards the radicand: for a constant series the
# moment expression's double dust can land a hair below zero, and
# DuckDB HARD-ERRORS on sqrt(negative) while Spark returns NaN (the
# changepoint_detect rule; the exact-decimal denominators in
# spearman/kendall/welch need no guard — their radicands are exact)
_JB_M2NN = f"greatest(CAST(0.0 AS DOUBLE), {_JB_M2})"
_JB_SKEW = f"({_JB_M3} / nullif({_JB_M2} * sqrt({_JB_M2NN}), 0.0))"
_JB_KURT = f"(({_JB_M4} / nullif({_JB_M2} * {_JB_M2}, 0.0)) - 3.0)"
_JB_STAT = (
    f"(CAST(n_obs AS DOUBLE) / 6.0) * ({_JB_SKEW} * {_JB_SKEW}"
    f" + ({_JB_KURT} * {_JB_KURT}) / 4.0)"
)

_SS_MEAN = "(CAST(sr AS DOUBLE) / n_obs)"
_SS_VAR = (
    "((CAST(srr AS DOUBLE)"
    " - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / n_obs)"
    " / nullif(n_obs - 1.0, 0.0))"
)
_SS_VAR_NN = f"greatest(CAST(0.0 AS DOUBLE), {_SS_VAR})"  # same rule
_SS_SHARPE = f"sqrt(252.0) * ({_SS_MEAN} / nullif(sqrt({_SS_VAR_NN}), 0.0))"
_SS_SORTINO = (
    f"sqrt(252.0) * ({_SS_MEAN}"
    f" / nullif(sqrt(CAST(sdown AS DOUBLE) / n_obs), 0.0))"
)

_M8, _M16 = _HURST_MS


def _rs_block_expr(m: int) -> str:
    # the radicand m·Σu² − S² is exact in DECIMAL(38,0) and ≥ 0, but
    # the DOUBLE casts round once values pass 2^53 — a constant block
    # can then land a hair below zero, where DuckDB hard-errors on
    # sqrt (the changepoint_detect dust rule): greatest(0,·) guards it
    return (
        f"CAST(range_dev AS DOUBLE)"
        f" / nullif(sqrt(greatest(CAST(0.0 AS DOUBLE),"
        f" {m}.0 * CAST(sq AS DOUBLE)"
        f" - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE))), 0.0)"
    )


_HURST_H = (
    f"ln(nullif(rs_{_M16} / nullif(rs_{_M8}, 0.0), 0.0))"
    f" / ln({_M16}.0 / {_M8}.0)"
)


def _returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = with_daily_return(daily_bars(load_table(spark, sf_dir, "events")))
    return bars.filter(F.col("daily_return").isNotNull()).select(
        "series_key",
        "date",
        F.col("daily_return").cast("decimal(18,6)").alias("r_d"),
    )


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _returns(spark, sf_dir).filter(F.col("r_d") != 0)
    wo = Window.partitionBy("series_key").orderBy("date")
    s = r.withColumn("sgn", (F.col("r_d") > 0).cast("int")).withColumn(
        "run_start",
        F.when(
            F.lag("sgn").over(wo).isNull() | (F.col("sgn") != F.lag("sgn").over(wo)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    g = s.groupBy("series_key").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("sgn").alias("n_pos"),
        F.sum(F.expr("1 - sgn")).alias("n_neg"),
        F.sum("run_start").alias("n_runs"),
    )
    return g.select(
        "series_key",
        "n_obs",
        "n_pos",
        "n_neg",
        "n_runs",
        (F.round(F.expr(_RUNS_Z), 6) + 0.0).alias("z_runs"),
    )


def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _returns(spark, sf_dir)
    wp = Window.partitionBy("series_key")
    wo = Window.partitionBy("series_key").orderBy("date")
    centered = (
        r.withColumn("n", F.count(F.lit(1)).over(wp))
        .withColumn("s_units", F.sum(F.expr("CAST(r_d * 1000000 AS BIGINT)")).over(wp))
        .withColumn(
            "d",
            (
                F.col("r_d") - exact_avg6_expr("s_units", "n").cast("decimal(18,6)")
            ).cast("decimal(15,6)"),
        )
    )
    for k in _LB_LAGS:
        centered = centered.withColumn(f"d{k}", F.lag("d", k).over(wo))
    g = centered.groupBy("series_key").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.col("d") * F.col("d")).alias("s0"),
        *[F.sum(F.col("d") * F.col(f"d{k}")).alias(f"s{k}") for k in _LB_LAGS],
    )
    return g.filter(F.col("n_obs") > max(_LB_LAGS)).select(
        "series_key",
        "n_obs",
        (F.round(F.expr(_LB_Q), 6) + 0.0).alias("q_lb"),
        F.lit(len(_LB_LAGS)).cast("int").alias("df"),
    )


def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _returns(spark, sf_dir).withColumn(
        "u", F.expr("CAST(r_d * 1000000 AS BIGINT)")
    )
    # u ≤ ~1.2e9 on this data → u² ≤ ~1.5e18 (BIGINT-exact under
    # ANSI); the cubic/quartic products run in scale-0 DECIMAL —
    # Spark keeps (19,0) operands so the (38,0)-capped product stays
    # legal (scale-0 is never rounded by the precision cap)
    powers = r.select(
        "series_key",
        "u",
        F.expr("u * u").alias("u2"),
        F.expr("CAST(u * u AS DECIMAL(19,0)) * CAST(u AS DECIMAL(19,0))").alias("u3"),
        F.expr(
            "CAST(u * u AS DECIMAL(19,0)) * CAST(u * u AS DECIMAL(19,0))"
        ).alias("u4"),
    )
    g = powers.groupBy("series_key").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("u").alias("s1"),
        F.sum(F.expr("CAST(u2 AS DECIMAL(38,0))")).alias("s2"),
        F.sum("u3").alias("s3"),
        F.sum("u4").alias("s4"),
    )
    return g.select(
        "series_key",
        "n_obs",
        (F.round(F.expr(_JB_SKEW), 6) + 0.0).alias("skewness"),
        (F.round(F.expr(_JB_KURT), 6) + 0.0).alias("ex_kurtosis"),
        (F.round(F.expr(_JB_STAT), 6) + 0.0).alias("jb_stat"),
    )


def q_sharpe_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _returns(spark, sf_dir)
    g = r.groupBy("series_key").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("r_d").alias("sr"),
        F.sum(F.expr("CAST(r_d AS DECIMAL(15,6)) * CAST(r_d AS DECIMAL(15,6))")).alias(
            "srr"
        ),
        F.sum(
            F.expr(
                "CASE WHEN r_d < 0"
                " THEN CAST(r_d AS DECIMAL(15,6)) * CAST(r_d AS DECIMAL(15,6))"
                " ELSE CAST(0 AS DECIMAL(31,12)) END"
            )
        ).alias("sdown"),
    )
    return g.select(
        "series_key",
        "n_obs",
        (F.round(F.expr(_SS_MEAN), 6) + 0.0).alias("mean_return"),
        (F.round(F.expr(f"sqrt({_SS_VAR_NN})"), 6) + 0.0).alias("return_std"),
        (F.round(F.expr(_SS_SHARPE), 6) + 0.0).alias("sharpe"),
        (F.round(F.expr(_SS_SORTINO), 6) + 0.0).alias("sortino"),
    )


def _rs_per_block(r: DataFrame, m: int) -> DataFrame:
    """Per-series exact-integer average of per-block 6dp R/S values
    for block size ``m`` (full blocks only)."""
    blk = r.withColumn("block", F.expr(f"(rn - 1) DIV {m}"))
    wb = Window.partitionBy("series_key", "block")
    wbk = Window.partitionBy("series_key", "block").orderBy("rn")
    d = (
        blk.withColumn("bn", F.count(F.lit(1)).over(wb))
        .filter(F.col("bn") == m)
        .withColumn("c_k", F.sum("u").over(wbk.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("k", F.row_number().over(wbk))
        .withColumn("s_b", F.sum("u").over(wb))
        .withColumn("dev", F.expr(f"{m} * c_k - k * s_b"))
    )
    per_block = d.groupBy("series_key", "block").agg(
        (F.max("dev") - F.min("dev")).alias("range_dev"),
        F.sum(F.expr("CAST(u * u AS DECIMAL(38,0))")).alias("sq"),
        F.max("s_b").alias("s_b"),
    )
    rs = per_block.select(
        "series_key",
        F.round(F.expr(_rs_block_expr(m)), 6).alias("rs"),
    ).filter(F.col("rs").isNotNull())
    return rs.groupBy("series_key").agg(
        F.count(F.lit(1)).alias(f"n_blocks_{m}"),
        exact_avg6_expr(
            "sum(CAST(CAST(rs AS DECIMAL(18,6)) * 1000000 AS BIGINT))", "count(1)"
        ).alias(f"rs_{m}"),
    )


def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _returns(spark, sf_dir)
    wo = Window.partitionBy("series_key").orderBy("date")
    # ranked feeds BOTH block-size R/S pipelines — one eager
    # materialization instead of running the returns+rank window
    # twice (without it the plan duplicates the whole 5-window
    # subtree under the join's broadcast side); the per-series window
    # shuffles downstream re-spread parallelism
    ranked = (
        r.withColumn("rn", F.row_number().over(wo))
        .withColumn("u", F.expr("CAST(r_d * 1000000 AS BIGINT)"))
        .localCheckpoint(eager=True)
    )
    a = _rs_per_block(ranked, _M8)
    b = _rs_per_block(ranked, _M16)
    return a.join(b, "series_key").select(
        "series_key",
        f"n_blocks_{_M8}",
        f"n_blocks_{_M16}",
        (F.round(F.col(f"rs_{_M8}"), 6) + 0.0).alias("rs8"),
        (F.round(F.col(f"rs_{_M16}"), 6) + 0.0).alias("rs16"),
        (F.round(F.expr(_HURST_H), 6) + 0.0).alias("hurst"),
    )


def _rs_sql(m: int) -> str:
    """DuckDB CTE chain computing per-series exact-integer avg R/S at
    block size ``m`` (mirrors _rs_per_block)."""
    return f"""
    blk{m} AS (
        SELECT series_key, (rn - 1) // {m} AS block, rn, u
        FROM ranked
        QUALIFY count(*) OVER (PARTITION BY series_key, (rn - 1) // {m}) = {m}
    ),
    dev{m} AS (
        SELECT series_key, block,
               {m} * sum(u) OVER (PARTITION BY series_key, block ORDER BY rn
                                  ROWS UNBOUNDED PRECEDING)
               - (row_number() OVER (PARTITION BY series_key, block ORDER BY rn))
                 * (sum(u) OVER (PARTITION BY series_key, block)) AS dev,
               u,
               sum(u) OVER (PARTITION BY series_key, block) AS s_b
        FROM blk{m}
    ),
    pb{m} AS (
        SELECT series_key, block, max(dev) - min(dev) AS range_dev,
               sum(CAST(u * u AS DECIMAL(38,0))) AS sq, max(s_b) AS s_b
        FROM dev{m} GROUP BY 1, 2
    ),
    rs{m} AS (
        SELECT series_key, round({_rs_block_expr(m)}, 6) AS rs
        FROM pb{m}
    ),
    agg{m} AS (
        SELECT series_key, CAST(count(*) AS BIGINT) AS n_blocks_{m},
               {exact_avg6_sql(
                   "sum(CAST(CAST(rs AS DECIMAL(18,6)) * 1000000 AS BIGINT))",
                   "count(*)",
               )} AS rs_{m}
        FROM rs{m} WHERE rs IS NOT NULL
        GROUP BY 1
    )"""


# ------------------------------ variance_ratio · seasonality_strength

_VR_Q = 5

# shared double-expression strings (identical text both engines)
_VR_VAR1 = (
    "((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_obs)"
    " / nullif(n_obs - 1.0, 0.0))"
)
_VR_VARQ = (
    "((CAST(t2 AS DOUBLE) - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE) / n_windows)"
    " / nullif(n_windows - 1.0, 0.0))"
)
_VR = f"({_VR_VARQ} / nullif({_VR_Q}.0 * {_VR_VAR1}, 0.0))"
_VR_Z = (
    f"(({_VR} - 1.0) / nullif(sqrt("
    f"2.0 * (2.0 * {_VR_Q} - 1.0) * ({_VR_Q} - 1.0)"
    f" / (3.0 * {_VR_Q} * CAST(n_obs AS DOUBLE))), 0.0))"
)

_SS_FS = (
    "greatest(0.0, 1.0 - (CAST(rr2 AS DOUBLE) - CAST(rr1 AS DOUBLE)"
    " * CAST(rr1 AS DOUBLE) / n_obs)"
    " / nullif(CAST(dd2 AS DOUBLE) - CAST(dd1 AS DOUBLE)"
    " * CAST(dd1 AS DOUBLE) / n_obs, 0.0))"
)
_SS_FT = (
    "greatest(0.0, 1.0 - (CAST(rr2 AS DOUBLE) - CAST(rr1 AS DOUBLE)"
    " * CAST(rr1 AS DOUBLE) / n_obs)"
    " / nullif(CAST(ss2 AS DOUBLE) - CAST(ss1 AS DOUBLE)"
    " * CAST(ss1 AS DOUBLE) / n_obs, 0.0))"
)


def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = with_daily_return(daily_bars(load_table(spark, sf_dir, "events")))
    r = bars.filter(F.col("daily_return").isNotNull()).select(
        "series_key",
        "date",
        F.col("daily_return").cast("decimal(18,6)").alias("r_d"),
    )
    wq = (
        Window.partitionBy("series_key")
        .orderBy("date")
        .rowsBetween(-(_VR_Q - 1), 0)
    )
    withq = r.withColumn("cq", F.count(F.lit(1)).over(wq)).withColumn(
        "rq",
        F.when(F.col("cq") == _VR_Q, F.sum("r_d").over(wq)).cast("decimal(15,6)"),
    )
    g = withq.groupBy("series_key").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("r_d").alias("s1"),
        F.sum(
            F.expr("CAST(r_d AS DECIMAL(15,6)) * CAST(r_d AS DECIMAL(15,6))")
        ).alias("s2"),
        F.count("rq").alias("n_windows"),
        F.sum("rq").alias("t1"),
        F.sum(F.col("rq") * F.col("rq")).alias("t2"),
    )
    return g.select(
        "series_key",
        "n_obs",
        "n_windows",
        (F.round(F.expr(_VR), 6) + 0.0).alias("vr"),
        (F.round(F.expr(_VR_Z), 6) + 0.0).alias("z_vr"),
    )


def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars(load_table(spark, sf_dir, "events")).select(
        "series_key", "date", "close"
    )
    w7 = (
        Window.partitionBy("series_key")
        .orderBy("date")
        .rowsBetween(-(_SD_WIN // 2), _SD_WIN // 2)
    )
    trended = (
        bars.withColumn("c_d", F.col("close").cast("decimal(18,6)"))
        .withColumn("cnt7", F.count(F.lit(1)).over(w7))
        .withColumn(
            "sum7_units",
            F.sum(F.expr("CAST(c_d * 1000000 AS BIGINT)")).over(w7),
        )
        .withColumn(
            "trend",
            F.when(
                F.col("cnt7") == _SD_WIN,
                exact_avg6_expr("sum7_units", str(_SD_WIN)),
            ),
        )
        .withColumn("det_d", F.col("c_d") - F.col("trend").cast("decimal(18,6)"))
        .withColumn(
            "dow",
            F.expr("CAST((unix_micros(date) div 86400000000) % 7 AS INT)"),
        )
    )
    wdow = Window.partitionBy("series_key", "dow")
    full = (
        trended.withColumn("n_det", F.count("det_d").over(wdow))
        .withColumn(
            "det_units",
            F.sum(F.expr("CAST(det_d * 1000000 AS BIGINT)")).over(wdow),
        )
        .withColumn(
            "seas",
            F.when(F.col("n_det") > 0, exact_avg6_expr("det_units", "n_det")).cast(
                "decimal(18,6)"
            ),
        )
        .filter(F.col("det_d").isNotNull())
        .withColumn("res_d", F.expr("CAST(det_d - seas AS DECIMAL(15,6))"))
        .withColumn("des_d", F.expr("CAST(c_d - seas AS DECIMAL(15,6))"))
        .withColumn("detc", F.expr("CAST(det_d AS DECIMAL(15,6))"))
    )
    g = full.groupBy("series_key").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("res_d").alias("rr1"),
        F.sum(F.col("res_d") * F.col("res_d")).alias("rr2"),
        F.sum("detc").alias("dd1"),
        F.sum(F.col("detc") * F.col("detc")).alias("dd2"),
        F.sum("des_d").alias("ss1"),
        F.sum(F.col("des_d") * F.col("des_d")).alias("ss2"),
    )
    return g.select(
        "series_key",
        "n_obs",
        (F.round(F.expr(_SS_FS), 6) + 0.0).alias("seasonal_strength"),
        (F.round(F.expr(_SS_FT), 6) + 0.0).alias("trend_strength"),
    )


# --------------------------------- changepoint_detect · lead_lag_corr

_LL_LAGS = (-2, -1, 0, 1, 2)

# shared double-expression strings (identical text both engines)
_CP_VAR = (
    "((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_obs)"
    " / nullif(n_obs - 1.0, 0.0))"
)
# greatest(0, ·) guards fp dust: a constant-return series' variance
# expression can land a hair below zero in double, and DuckDB
# HARD-ERRORS on sqrt(negative) (Spark returns NaN) — the guard
# collapses the case to the intended NULL via the nullif
_CP_STAT = (
    f"(CAST(dmax AS DOUBLE) / nullif(CAST(n_obs AS DOUBLE)"
    f" * sqrt(greatest(CAST(0.0 AS DOUBLE), {_CP_VAR}))"
    f" * sqrt(CAST(n_obs AS DOUBLE)), 0.0))"
)

_LL_COV = (
    "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n_obs)"
)
_LL_VX = (
    "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n_obs)"
)
_LL_VY = (
    "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n_obs)"
)
_LL_CORR = (
    f"({_LL_COV} / nullif(sqrt(greatest(CAST(0.0 AS DOUBLE),"
    f" {_LL_VX} * {_LL_VY})), 0.0))"
)


def q_changepoint_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = with_daily_return(daily_bars(load_table(spark, sf_dir, "events")))
    r = bars.filter(F.col("daily_return").isNotNull()).select(
        "series_key",
        "date",
        F.col("daily_return").cast("decimal(18,6)").alias("r_d"),
    )
    wrun = (
        Window.partitionBy("series_key")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("series_key")
    scored = (
        r.withColumn("k", F.row_number().over(Window.partitionBy("series_key").orderBy("date")))
        .withColumn("s_k", F.sum("r_d").over(wrun).cast("decimal(18,6)"))
        .withColumn("n", F.count(F.lit(1)).over(wall))
        .withColumn("s_n", F.sum("r_d").over(wall).cast("decimal(18,6)"))
    )
    # interior rows only feed the argmax: the WHOLE struct is
    # conditional (a NULL struct is skipped by max on both engines; a
    # struct with a NULL field would enter Spark's ordering)
    am_struct = F.when(
        F.col("k") < F.col("n"),
        F.struct(
            F.abs(
                F.col("n").cast("decimal(10,0)") * F.col("s_k")
                - F.col("k").cast("decimal(10,0)") * F.col("s_n")
            ).alias("d"),
            (-F.col("k")).alias("nk"),
        ),
    )
    g = scored.groupBy("series_key").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("r_d").alias("s1"),
        F.sum(
            F.expr("CAST(r_d AS DECIMAL(15,6)) * CAST(r_d AS DECIMAL(15,6))")
        ).alias("s2"),
        F.max(am_struct).alias("am"),
    )
    g2 = g.select(
        "series_key",
        "n_obs",
        "s1",
        "s2",
        (-F.col("am.nk")).cast("int").alias("cp_k"),
        F.col("am.d").alias("dmax"),
    )
    return g2.select(
        "series_key",
        "n_obs",
        "cp_k",
        F.col("dmax").cast("double").alias("cp_dmax"),
        (F.round(F.expr(_CP_STAT), 6) + 0.0).alias("cp_stat"),
    )


def q_lead_lag_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = with_daily_return(daily_bars(load_table(spark, sf_dir, "events")))
    r = bars.filter(F.col("daily_return").isNotNull()).select(
        "series_key",
        "date",
        F.col("daily_return").cast("decimal(18,6)").alias("r_d"),
    )
    w = Window.partitionBy("series_key").orderBy("date")
    shifted = r
    for lag in _LL_LAGS:
        if lag > 0:
            col = F.lead("r_d", lag).over(w)
        elif lag < 0:
            col = F.lag("r_d", -lag).over(w)
        else:
            col = F.col("r_d")
        shifted = shifted.withColumn(f"_y{lag}", col)
    b_long = shifted.select(
        F.col("series_key").alias("key_b"),
        "date",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lag).alias("lag"), F.col(f"_y{lag}").alias("y")
                    )
                    for lag in _LL_LAGS
                ]
            )
        ).alias("ly"),
    ).select(
        "key_b",
        "date",
        F.col("ly.lag").alias("lag"),
        F.col("ly.y").alias("y"),
    ).filter(F.col("y").isNotNull())
    a = r.select(
        F.col("series_key").alias("key_a"), "date", F.col("r_d").alias("x")
    )
    g = (
        a.join(b_long, "date")
        .filter(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b", "lag")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(
                F.expr(
                    "CAST(x AS DECIMAL(15,6)) * CAST(y AS DECIMAL(15,6))"
                )
            ).alias("sxy"),
            F.sum(
                F.expr(
                    "CAST(x AS DECIMAL(15,6)) * CAST(x AS DECIMAL(15,6))"
                )
            ).alias("sxx"),
            F.sum(
                F.expr(
                    "CAST(y AS DECIMAL(15,6)) * CAST(y AS DECIMAL(15,6))"
                )
            ).alias("syy"),
        )
    )
    return g.select(
        "key_a",
        "key_b",
        "lag",
        "n_obs",
        (F.round(F.expr(_LL_CORR), 6) + 0.0).alias("xcorr"),
    )


QUERIES = {
    "acf_returns": q_acf_returns,
    "seasonal_decompose": q_seasonal_decompose,
    "holt_forecast": q_holt_forecast,
    "cusum_anomaly": q_cusum_anomaly,
    "theil_sen_slope": q_theil_sen_slope,
    "spearman_corr": q_spearman_corr,
    "holt_winters": q_holt_winters,
    "kendall_tau": q_kendall_tau,
    "runs_test": q_runs_test,
    "ljung_box": q_ljung_box,
    "jarque_bera": q_jarque_bera,
    "sharpe_sortino": q_sharpe_sortino,
    "hurst_exponent": q_hurst_exponent,
    "variance_ratio": q_variance_ratio,
    "seasonality_strength": q_seasonality_strength,
    "changepoint_detect": q_changepoint_detect,
    "lead_lag_corr": q_lead_lag_corr,
}

ORACLE = {
    "acf_returns": f"""
        WITH {DAILY_BARS_SQL}, {DAILY_RETURN_SQL},
        rr AS (
            SELECT series_key, date,
                   CAST(daily_return AS DECIMAL(18,6)) AS r_d
            FROM ret WHERE daily_return IS NOT NULL
        ),
        st AS (
            SELECT series_key, date, r_d,
                   count(*) OVER wp AS n,
                   sum(CAST(r_d * 1000000 AS BIGINT)) OVER wp AS s_units
            FROM rr WINDOW wp AS (PARTITION BY series_key)
        ),
        ctr AS (
            -- DECIMAL(19,6): one digit above DuckDB's int64 tier so
            -- its d*d multiply runs int128 ((19,6)² → (38,12), the
            -- int64 tier overflows at |d| ~1e3); Spark keeps (15,6)
            -- (its (19,6)² would exceed precision 38 and TRUNCATE the
            -- scale) — widths differ, the exact VALUES are identical
            SELECT series_key, date,
                   CAST(r_d - CAST({exact_avg6_sql("s_units", "n")}
                                   AS DECIMAL(18,6)) AS DECIMAL(19,6)) AS d
            FROM st
        ),
        lg AS (
            SELECT series_key, d, {_ACF_LAG_COLS}
            FROM ctr WINDOW wo AS (PARTITION BY series_key ORDER BY date)
        )
        SELECT series_key, CAST(count(*) AS BIGINT) AS n_obs,
               {_ACF_TERMS}
        FROM lg GROUP BY series_key
    """,
    "seasonal_decompose": f"""
        WITH {DAILY_BARS_SQL},
        tr AS (
            SELECT series_key, date, close,
                   CAST(close AS DECIMAL(18,6)) AS c_d,
                   count(*) OVER w7 AS cnt7,
                   sum(CAST(CAST(close AS DECIMAL(18,6)) * 1000000 AS BIGINT))
                       OVER w7 AS sum7_units,
                   CAST((epoch_us(date) // 86400000000) % 7 AS INT) AS dow
            FROM bars
            WINDOW w7 AS (PARTITION BY series_key ORDER BY date
                          ROWS BETWEEN {_SD_WIN // 2} PRECEDING
                                   AND {_SD_WIN // 2} FOLLOWING)
        ),
        td AS (
            SELECT *,
                   CASE WHEN cnt7 = {_SD_WIN}
                        THEN {exact_avg6_sql("sum7_units", str(_SD_WIN))}
                   END AS trend
            FROM tr
        ),
        dt AS (
            SELECT *, c_d - CAST(trend AS DECIMAL(18,6)) AS det_d FROM td
        ),
        se AS (
            SELECT *,
                   count(det_d) OVER wd AS n_det,
                   sum(CAST(det_d * 1000000 AS BIGINT)) OVER wd AS det_units
            FROM dt WINDOW wd AS (PARTITION BY series_key, dow)
        )
        SELECT series_key, date, dow, trend,
               CASE WHEN n_det > 0
                    THEN {exact_avg6_sql("det_units", "n_det")} END AS seasonal,
               round(close - trend - CASE WHEN n_det > 0
                    THEN {exact_avg6_sql("det_units", "n_det")} END, 6) + 0.0
                   AS residual
        FROM se
    """,
    "holt_forecast": f"""
    WITH RECURSIVE {DAILY_BARS_RN_SQL}, sd AS (
        SELECT series_key, date, rn, CAST(close AS DECIMAL(18,6)) AS c_d
        FROM seq
    ),
    rec(series_key, date, rn, lvl, tr) AS (
        SELECT series_key, date, rn, c_d, CAST(0 AS DECIMAL(18,6))
        FROM sd WHERE rn = 1
        UNION ALL
        SELECT s.series_key, s.date, s.rn,
               {_HOLT_LVL_NEXT},
               CAST(round(CAST(0.1 AS DECIMAL(2,1))
                          * ({_HOLT_LVL_NEXT} - r.lvl)
                          + CAST(0.9 AS DECIMAL(2,1)) * r.tr, 6)
                    AS DECIMAL(18,6))
        FROM rec r JOIN sd s
          ON s.series_key = r.series_key AND s.rn = r.rn + 1
    )
    SELECT series_key, date,
           CAST(lvl AS DOUBLE) AS level,
           CAST(tr AS DOUBLE) AS trend,
           round(CAST(lvl + tr AS DOUBLE), 6) AS forecast
    FROM rec
""",
    "cusum_anomaly": f"""
    WITH RECURSIVE {DAILY_BARS_SQL}, {DAILY_RETURN_SQL},
    rr AS (
        SELECT series_key, date,
               CAST(row_number() OVER (PARTITION BY series_key
                                       ORDER BY date) AS INT) AS rn,
               CAST(daily_return AS DECIMAL(18,6)) AS r_d
        FROM ret WHERE daily_return IS NOT NULL
    ),
    rec(series_key, date, rn, cp, cn) AS (
        -- every state expression CAST back to DECIMAL(18,6): without
        -- the clamp the recursive union widens per step and DuckDB
        -- silently degrades the column to DOUBLE (the psar/holt
        -- recipe's outer CASTs are load-bearing, not style)
        SELECT series_key, date, rn,
               CAST(greatest(CAST(0 AS DECIMAL(18,6)),
                        r_d - CAST(0.005 AS DECIMAL(18,6)))
                    AS DECIMAL(18,6)),
               CAST(greatest(CAST(0 AS DECIMAL(18,6)),
                        - r_d - CAST(0.005 AS DECIMAL(18,6)))
                    AS DECIMAL(18,6))
        FROM rr WHERE rn = 1
        UNION ALL
        SELECT s.series_key, s.date, s.rn,
               CAST(greatest(CAST(0 AS DECIMAL(18,6)),
                        r.cp + (s.r_d - CAST(0.005 AS DECIMAL(18,6))))
                    AS DECIMAL(18,6)),
               CAST(greatest(CAST(0 AS DECIMAL(18,6)),
                        r.cn - (s.r_d + CAST(0.005 AS DECIMAL(18,6))))
                    AS DECIMAL(18,6))
        FROM rec r JOIN rr s
          ON s.series_key = r.series_key AND s.rn = r.rn + 1
    )
    SELECT series_key, date,
           CAST(cp AS DOUBLE) AS cusum_pos,
           CAST(cn AS DOUBLE) AS cusum_neg,
           CAST(cp > CAST(45.0 AS DECIMAL(18,6))
                OR cn > CAST(45.0 AS DECIMAL(18,6)) AS INT) AS alarm
    FROM rec
""",
    "theil_sen_slope": f"""
    WITH {DAILY_BARS_RN_SQL},
    pairs AS (
        SELECT a.series_key,
               round(CAST(b.c_d - a.c_d AS DOUBLE)
                     / CAST(b.rn - a.rn AS DOUBLE), 6) AS slope
        FROM (SELECT series_key, rn, CAST(close AS DECIMAL(18,6)) AS c_d
              FROM seq) a
        JOIN (SELECT series_key, rn, CAST(close AS DECIMAL(18,6)) AS c_d
              FROM seq) b
          ON a.series_key = b.series_key AND a.rn < b.rn
    ),
    ranked AS (
        SELECT series_key, slope,
               row_number() OVER (PARTITION BY series_key ORDER BY slope) AS rnk,
               count(*) OVER (PARTITION BY series_key) AS n
        FROM pairs
    )
    SELECT series_key, CAST(max(n) AS BIGINT) AS n_pairs,
           {exact_avg6_sql("sum(" + _TS_UNITS + ")", "count(1)")} AS sen_slope
    FROM ranked
    WHERE rnk = (n + 1) // 2 OR rnk = (n + 2) // 2
    GROUP BY series_key
""",
    "holt_winters": f"""
        WITH RECURSIVE {DAILY_BARS_RN_SQL}, sd AS (
            SELECT series_key, date, rn, CAST(close AS DECIMAL(18,6)) AS c_d
            FROM seq
        ),
        seeds AS (
            SELECT series_key,
               CAST({exact_avg6_sql(
                   "sum(CASE WHEN rn <= 7 THEN CAST(c_d * 1000000 AS BIGINT) END)",
                   "7")} AS DECIMAL(18,6)) AS l7,
               {_HW_SEEDS}
            FROM sd GROUP BY series_key HAVING count(*) >= 8
        ),
        s7 AS (
            SELECT series_key, l7, {_HW_E} FROM seeds
        ),
        rec(series_key, date, rn, lvl, tr,
            sl1, sl2, sl3, sl4, sl5, sl6, sl7, fit) AS (
            SELECT series_key, CAST(NULL AS TIMESTAMP), 7, l7,
                   CAST(0 AS DECIMAL(18,6)),
                   e1, e2, e3, e4, e5, e6, e7,
                   CAST(NULL AS DECIMAL(18,6))
            FROM s7
            UNION ALL
            SELECT s.series_key, s.date, s.rn,
                   {_HW_LVL},
                   CAST(round(CAST(0.1 AS DECIMAL(2,1))
                              * ({_HW_LVL} - r.lvl)
                              + CAST(0.9 AS DECIMAL(2,1)) * r.tr, 6)
                        AS DECIMAL(18,6)),
                   r.sl2, r.sl3, r.sl4, r.sl5, r.sl6, r.sl7,
                   CAST(round(CAST(0.3 AS DECIMAL(2,1))
                              * (s.c_d - {_HW_LVL})
                              + CAST(0.7 AS DECIMAL(2,1)) * r.sl1, 6)
                        AS DECIMAL(18,6)),
                   CAST(r.lvl + r.tr + r.sl1 AS DECIMAL(18,6))
            FROM rec r JOIN sd s
              ON s.series_key = r.series_key AND s.rn = r.rn + 1
        )
        SELECT series_key, date,
               CAST(lvl AS DOUBLE) AS level,
               CAST(tr AS DOUBLE) AS trend,
               CAST(sl7 AS DOUBLE) AS seasonal,
               CAST(fit AS DOUBLE) AS fitted
        FROM rec WHERE rn >= 8
    """,
    "kendall_tau": f"""
        WITH {DAILY_BARS_RN_SQL},
        pairs AS (
            SELECT a.series_key,
                   CASE WHEN b.close > a.close THEN 1
                        WHEN b.close < a.close THEN -1 ELSE 0 END
                 * CASE WHEN b.volume > a.volume THEN 1
                        WHEN b.volume < a.volume THEN -1 ELSE 0 END AS sgn
            FROM seq a JOIN seq b
              ON a.series_key = b.series_key AND a.rn < b.rn
        ),
        cd AS (
            SELECT series_key,
                   CAST(sum(CAST(sgn = 1 AS BIGINT)) AS BIGINT) AS concordant,
                   CAST(sum(CAST(sgn = -1 AS BIGINT)) AS BIGINT) AS discordant
            FROM pairs GROUP BY series_key
        ),
        nn AS (
            SELECT series_key, CAST(count(*) AS BIGINT) AS n_days
            FROM seq GROUP BY series_key
        ),
        tx AS (
            SELECT series_key, CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n1
            FROM (SELECT series_key, close, CAST(count(*) AS BIGINT) AS t
                  FROM seq GROUP BY series_key, close)
            GROUP BY series_key
        ),
        ty AS (
            SELECT series_key, CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n2
            FROM (SELECT series_key, volume, CAST(count(*) AS BIGINT) AS t
                  FROM seq GROUP BY series_key, volume)
            GROUP BY series_key
        ),
        g AS (
            SELECT series_key, n_days, concordant, discordant, n1, n2,
                   n_days * (n_days - 1) // 2 AS n0
            FROM cd JOIN nn USING (series_key)
                    JOIN tx USING (series_key)
                    JOIN ty USING (series_key)
        )
        SELECT series_key, n_days, concordant, discordant,
               round(CAST(concordant - discordant AS DOUBLE)
                     / nullif(sqrt(CAST(CAST(n0 - n1 AS DECIMAL(19,0))
                                        * CAST(n0 - n2 AS DECIMAL(19,0))
                                        AS DOUBLE)), 0.0),
                     6) + 0.0 AS tau_b
        FROM g
    """,
    "spearman_corr": f"""
        WITH {DAILY_BARS_SQL},
        r AS (
            SELECT series_key,
                   2 * rank() OVER (PARTITION BY series_key ORDER BY close)
                     + count(*) OVER (PARTITION BY series_key, close) - 1 AS rx2,
                   2 * rank() OVER (PARTITION BY series_key ORDER BY volume)
                     + count(*) OVER (PARTITION BY series_key, volume) - 1 AS ry2
            FROM bars
        ),
        g AS (
            SELECT series_key,
                   CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(rx2) AS BIGINT) AS sx,
                   CAST(sum(ry2) AS BIGINT) AS sy,
                   sum(CAST(rx2 AS DECIMAL(12,0)) * CAST(ry2 AS DECIMAL(12,0)))
                       AS sxy,
                   sum(CAST(rx2 AS DECIMAL(12,0)) * CAST(rx2 AS DECIMAL(12,0)))
                       AS sxx,
                   sum(CAST(ry2 AS DECIMAL(12,0)) * CAST(ry2 AS DECIMAL(12,0)))
                       AS syy
            FROM r GROUP BY series_key
        )
        SELECT series_key, n_days,
               round(CAST({_SP_NUM} AS DOUBLE)
                     / nullif(sqrt(CAST({_SP_DEN1} AS DOUBLE)
                                   * CAST({_SP_DEN2} AS DOUBLE)), 0.0),
                     6) + 0.0 AS rho_spearman
        FROM g
    """,
    "runs_test": f"""
        WITH {DAILY_BARS_SQL}, {DAILY_RETURN_SQL}, {DECIMAL_RETURNS_SQL},
        s AS (
            SELECT series_key, date, CAST(r_d > 0 AS INT) AS sgn
            FROM rr WHERE r_d <> 0
        ),
        marked AS (
            SELECT series_key, sgn,
                   CASE WHEN lag(sgn) OVER wo IS NULL
                             OR sgn <> lag(sgn) OVER wo
                        THEN 1 ELSE 0 END AS run_start
            FROM s WINDOW wo AS (PARTITION BY series_key ORDER BY date)
        ),
        g AS (
            SELECT series_key, CAST(count(*) AS BIGINT) AS n_obs,
                   CAST(sum(sgn) AS BIGINT) AS n_pos,
                   CAST(sum(1 - sgn) AS BIGINT) AS n_neg,
                   CAST(sum(run_start) AS BIGINT) AS n_runs
            FROM marked GROUP BY 1
        )
        SELECT series_key, n_obs, n_pos, n_neg, n_runs,
               round({_RUNS_Z}, 6) + 0.0 AS z_runs
        FROM g
    """,
    "ljung_box": f"""
        WITH {DAILY_BARS_SQL}, {DAILY_RETURN_SQL}, {DECIMAL_RETURNS_SQL},
        st AS (
            SELECT series_key, date, r_d,
                   count(*) OVER wp AS n,
                   sum(CAST(r_d * 1000000 AS BIGINT)) OVER wp AS s_units
            FROM rr WINDOW wp AS (PARTITION BY series_key)
        ),
        ctr AS (
            -- DECIMAL(19,6): the acf_returns width note — DuckDB's
            -- int64 multiply tier overflows at |d| ~1e3, so its d*d
            -- runs int128; Spark keeps (15,6) (its (19,6)² would
            -- exceed precision 38 and truncate scale). Widths differ,
            -- the exact VALUES are identical.
            SELECT series_key, date,
                   CAST(r_d - CAST({exact_avg6_sql("s_units", "n")}
                                   AS DECIMAL(18,6)) AS DECIMAL(19,6)) AS d
            FROM st
        ),
        lg AS (
            SELECT series_key, d,
                   {", ".join(f"lag(d, {k}) OVER wo AS d{k}" for k in _LB_LAGS)}
            FROM ctr WINDOW wo AS (PARTITION BY series_key ORDER BY date)
        ),
        g AS (
            SELECT series_key, CAST(count(*) AS BIGINT) AS n_obs,
                   sum(d * d) AS s0,
                   {", ".join(f"sum(d * d{k}) AS s{k}" for k in _LB_LAGS)}
            FROM lg GROUP BY 1
        )
        SELECT series_key, n_obs,
               round({_LB_Q}, 6) + 0.0 AS q_lb,
               CAST({len(_LB_LAGS)} AS INT) AS df
        FROM g WHERE n_obs > {max(_LB_LAGS)}
    """,
    "jarque_bera": f"""
        WITH {DAILY_BARS_SQL}, {DAILY_RETURN_SQL}, {DECIMAL_RETURNS_SQL},
        units AS (
            SELECT series_key, CAST(r_d * 1000000 AS BIGINT) AS u FROM rr
        ),
        powers AS (
            SELECT series_key, u, u * u AS u2,
                   CAST(u * u AS DECIMAL(19,0)) * CAST(u AS DECIMAL(19,0)) AS u3,
                   CAST(u * u AS DECIMAL(19,0)) * CAST(u * u AS DECIMAL(19,0)) AS u4
            FROM units
        ),
        g AS (
            SELECT series_key, CAST(count(*) AS BIGINT) AS n_obs,
                   CAST(sum(u) AS BIGINT) AS s1,
                   sum(CAST(u2 AS DECIMAL(38,0))) AS s2,
                   sum(u3) AS s3, sum(u4) AS s4
            FROM powers GROUP BY 1
        )
        SELECT series_key, n_obs,
               round({_JB_SKEW}, 6) + 0.0 AS skewness,
               round({_JB_KURT}, 6) + 0.0 AS ex_kurtosis,
               round({_JB_STAT}, 6) + 0.0 AS jb_stat
        FROM g
    """,
    "sharpe_sortino": f"""
        WITH {DAILY_BARS_SQL}, {DAILY_RETURN_SQL}, {DECIMAL_RETURNS_SQL},
        g AS (
            SELECT series_key, CAST(count(*) AS BIGINT) AS n_obs,
                   sum(r_d) AS sr,
                   sum(CAST(r_d AS DECIMAL(19,6)) * CAST(r_d AS DECIMAL(19,6))) AS srr,
                   sum(CASE WHEN r_d < 0
                            THEN CAST(r_d AS DECIMAL(19,6)) * CAST(r_d AS DECIMAL(19,6))
                            ELSE CAST(0 AS DECIMAL(38,12)) END) AS sdown
            FROM rr GROUP BY 1
        )
        SELECT series_key, n_obs,
               round({_SS_MEAN}, 6) + 0.0 AS mean_return,
               round(sqrt({_SS_VAR_NN}), 6) + 0.0 AS return_std,
               round({_SS_SHARPE}, 6) + 0.0 AS sharpe,
               round({_SS_SORTINO}, 6) + 0.0 AS sortino
        FROM g
    """,
    "hurst_exponent": f"""
        WITH {DAILY_BARS_SQL}, {DAILY_RETURN_SQL}, {DECIMAL_RETURNS_SQL},
        ranked AS (
            SELECT series_key,
                   CAST(row_number() OVER (PARTITION BY series_key
                                           ORDER BY date) AS INT) AS rn,
                   CAST(r_d * 1000000 AS BIGINT) AS u
            FROM rr
        ),
        {_rs_sql(_M8)},
        {_rs_sql(_M16)}
        SELECT a.series_key, a.n_blocks_{_M8}, b.n_blocks_{_M16},
               round(rs_{_M8}, 6) + 0.0 AS rs8,
               round(rs_{_M16}, 6) + 0.0 AS rs16,
               round({_HURST_H}, 6) + 0.0 AS hurst
        FROM agg{_M8} a JOIN agg{_M16} b ON a.series_key = b.series_key
    """,
    "variance_ratio": f"""
        WITH {DAILY_BARS_SQL}, {DAILY_RETURN_SQL}, {DECIMAL_RETURNS_SQL},
        wq AS (
            SELECT series_key, r_d,
                   count(*) OVER w AS cq,
                   CASE WHEN count(*) OVER w = {_VR_Q}
                        THEN CAST(sum(r_d) OVER w AS DECIMAL(19,6)) END AS rq
            FROM rr
            WINDOW w AS (PARTITION BY series_key ORDER BY date
                         ROWS BETWEEN {_VR_Q - 1} PRECEDING AND CURRENT ROW)
        ),
        g AS (
            SELECT series_key, CAST(count(*) AS BIGINT) AS n_obs,
                   sum(r_d) AS s1,
                   sum(CAST(r_d AS DECIMAL(19,6)) * CAST(r_d AS DECIMAL(19,6)))
                       AS s2,
                   CAST(count(rq) AS BIGINT) AS n_windows,
                   sum(rq) AS t1,
                   sum(rq * rq) AS t2
            FROM wq GROUP BY 1
        )
        SELECT series_key, n_obs, n_windows,
               round({_VR}, 6) + 0.0 AS vr,
               round({_VR_Z}, 6) + 0.0 AS z_vr
        FROM g
    """,
    "seasonality_strength": f"""
        WITH {DAILY_BARS_SQL},
        tr AS (
            SELECT series_key, date, close,
                   CAST(close AS DECIMAL(18,6)) AS c_d,
                   count(*) OVER w7 AS cnt7,
                   sum(CAST(CAST(close AS DECIMAL(18,6)) * 1000000 AS BIGINT))
                       OVER w7 AS sum7_units,
                   CAST((epoch_us(date) // 86400000000) % 7 AS INT) AS dow
            FROM bars
            WINDOW w7 AS (PARTITION BY series_key ORDER BY date
                          ROWS BETWEEN {_SD_WIN // 2} PRECEDING
                                   AND {_SD_WIN // 2} FOLLOWING)
        ),
        td AS (
            SELECT series_key, date, c_d, dow,
                   CASE WHEN cnt7 = {_SD_WIN} THEN
                       c_d - CAST({exact_avg6_sql("sum7_units", str(_SD_WIN))}
                                  AS DECIMAL(18,6))
                   END AS det_d
            FROM tr
        ),
        sd AS (
            SELECT series_key, c_d, det_d,
                   CAST(CASE WHEN count(det_d) OVER wd > 0 THEN
                       {exact_avg6_sql(
                           "sum(CAST(det_d * 1000000 AS BIGINT)) OVER wd",
                           "count(det_d) OVER wd",
                       )}
                   END AS DECIMAL(18,6)) AS seas
            FROM td
            WINDOW wd AS (PARTITION BY series_key, dow)
        ),
        rows_full AS (
            SELECT series_key,
                   CAST(det_d - seas AS DECIMAL(19,6)) AS res_d,
                   CAST(c_d - seas AS DECIMAL(19,6)) AS des_d,
                   CAST(det_d AS DECIMAL(19,6)) AS detc
            FROM sd WHERE det_d IS NOT NULL
        ),
        g AS (
            SELECT series_key, CAST(count(*) AS BIGINT) AS n_obs,
                   sum(res_d) AS rr1, sum(res_d * res_d) AS rr2,
                   sum(detc) AS dd1, sum(detc * detc) AS dd2,
                   sum(des_d) AS ss1, sum(des_d * des_d) AS ss2
            FROM rows_full GROUP BY 1
        )
        SELECT series_key, n_obs,
               round({_SS_FS}, 6) + 0.0 AS seasonal_strength,
               round({_SS_FT}, 6) + 0.0 AS trend_strength
        FROM g
    """,
    # scaled CUSUM deviation exact in the int128 tier; argmax via the
    # aroon struct recipe (struct_pack/struct_extract, NULL rows past
    # the interior skipped by max); the shared double string from
    # exact aggregates.
    "changepoint_detect": f"""
        WITH {DAILY_BARS_SQL}, {DAILY_RETURN_SQL}, {DECIMAL_RETURNS_SQL},
        sc AS (
            SELECT series_key, r_d,
                   row_number() OVER wo AS k,
                   CAST(sum(r_d) OVER wrun AS DECIMAL(19,6)) AS s_k,
                   count(*) OVER wall AS n,
                   CAST(sum(r_d) OVER wall AS DECIMAL(19,6)) AS s_n
            FROM rr
            WINDOW wo AS (PARTITION BY series_key ORDER BY date),
                   wrun AS (PARTITION BY series_key ORDER BY date
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wall AS (PARTITION BY series_key)
        ),
        g AS (
            SELECT series_key, CAST(count(*) AS BIGINT) AS n_obs,
                   sum(r_d) AS s1,
                   sum(CAST(r_d AS DECIMAL(19,6)) * CAST(r_d AS DECIMAL(19,6)))
                       AS s2,
                   max(CASE WHEN k < n THEN struct_pack(
                       d := abs(CAST(n AS DECIMAL(19,0)) * s_k
                                - CAST(k AS DECIMAL(19,0)) * s_n),
                       nk := -k) END) AS am
            FROM sc GROUP BY 1
        ),
        g2 AS (
            SELECT series_key, n_obs, s1, s2,
                   CAST(-struct_extract(am, 'nk') AS INT) AS cp_k,
                   struct_extract(am, 'd') AS dmax
            FROM g
        )
        SELECT series_key, n_obs, cp_k,
               CAST(dmax AS DOUBLE) AS cp_dmax,
               round({_CP_STAT}, 6) + 0.0 AS cp_stat
        FROM g2
    """,
    # five UNION ALL shift arms replicate the one-pass window
    # unpivot; one date join serves every pair x lag, then the
    # identical shared double string over exact (19,6) sums.
    "lead_lag_corr": f"""
        WITH {DAILY_BARS_SQL}, {DAILY_RETURN_SQL}, {DECIMAL_RETURNS_SQL},
        b_long AS (
            SELECT series_key AS key_b, date, -2 AS lag,
                   lag(r_d, 2) OVER wm2 AS y FROM rr
            WINDOW wm2 AS (PARTITION BY series_key ORDER BY date)
            UNION ALL
            SELECT series_key, date, -1, lag(r_d, 1) OVER wm1 FROM rr
            WINDOW wm1 AS (PARTITION BY series_key ORDER BY date)
            UNION ALL
            SELECT series_key, date, 0, r_d FROM rr
            UNION ALL
            SELECT series_key, date, 1, lead(r_d, 1) OVER wp1 FROM rr
            WINDOW wp1 AS (PARTITION BY series_key ORDER BY date)
            UNION ALL
            SELECT series_key, date, 2, lead(r_d, 2) OVER wp2 FROM rr
            WINDOW wp2 AS (PARTITION BY series_key ORDER BY date)
        ),
        g AS (
            SELECT a.series_key AS key_a, b.key_b, CAST(b.lag AS INT) AS lag,
                   CAST(count(*) AS BIGINT) AS n_obs,
                   sum(a.r_d) AS sx,
                   sum(b.y) AS sy,
                   sum(CAST(a.r_d AS DECIMAL(19,6)) * CAST(b.y AS DECIMAL(19,6)))
                       AS sxy,
                   sum(CAST(a.r_d AS DECIMAL(19,6)) * CAST(a.r_d AS DECIMAL(19,6)))
                       AS sxx,
                   sum(CAST(b.y AS DECIMAL(19,6)) * CAST(b.y AS DECIMAL(19,6)))
                       AS syy
            FROM rr a JOIN b_long b
              ON a.date = b.date AND a.series_key < b.key_b
            WHERE b.y IS NOT NULL
            GROUP BY 1, 2, 3
        )
        SELECT key_a, key_b, lag, n_obs,
               round({_LL_CORR}, 6) + 0.0 AS xcorr
        FROM g
    """,
}
