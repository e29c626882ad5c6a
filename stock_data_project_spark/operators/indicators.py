"""Classic technical indicators over per-key daily bars.

Extends the reference's derived-metric family (fetch_stocks.py:213-216
computes daily return + rolling volatility; streamlit/app.py charts
them) with the indicator set a stock dashboard grows next: ATR,
stochastic oscillator, OBV, Donchian channel, rolling z-score, floor
pivot points.

Scale shape: every indicator is a ``rowsBetween`` window aggregate
partitioned by the series key — identical to operators/volatility.py:
one hash partition on the key, per-key sorted state, codegen'd
min/max/avg/stddev, no cross-key traffic and no UDFs. On a 1000-
executor cluster the keys spread across executors and each window is
a linear in-partition scan; at 100 TB the cost is the one bars
shuffle these all share (and reuse) upstream.

Rounding convention: floats that pass through non-associative math
round to 6dp exactly where the DuckDB oracle rounds, and any column
DERIVED from a rounded column reads the rounded value on both sides
(pct_d averages the already-rounded pct_k), so the comparison stays
exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stock_data_project_spark.operators.volatility import rolling_window


def _ordered(key_col: str, order_col: str):
    return Window.partitionBy(key_col).orderBy(order_col)


def with_atr(
    df: DataFrame,
    key_col: str = "series_key",
    order_col: str = "date",
    window: int = 14,
    out_col: str = "atr",
) -> DataFrame:
    """True range + its ``window``-row rolling average (simple-average
    ATR, the same variant family as the repo's simple-average RSI).

    TR = greatest(high-low, |high-prev_close|, |low-prev_close|); the
    first row of a series has no prev_close, so TR degrades to
    high-low (the standard seed).
    """
    wo = _ordered(key_col, order_col)
    prev_close = F.lag("close").over(wo)
    tr = F.when(prev_close.isNull(), F.col("high") - F.col("low")).otherwise(
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - prev_close),
            F.abs(F.col("low") - prev_close),
        )
    )
    df = df.withColumn("true_range", F.round(tr, 6))
    wr = rolling_window(key_col, order_col, window)
    return df.withColumn(out_col, F.round(F.avg("true_range").over(wr), 6))


def with_stochastic(
    df: DataFrame,
    key_col: str = "series_key",
    order_col: str = "date",
    k_window: int = 14,
    d_window: int = 3,
) -> DataFrame:
    """%K = 100·(close − rolling min low)/(rolling max high − rolling
    min low); %D = ``d_window``-row average of %K. A flat window
    (high == low across the lookback) yields NULL, not a division
    error (ANSI mode is on — the divisor goes through nullif)."""
    wk = rolling_window(key_col, order_col, k_window)
    ll = F.min("low").over(wk)
    hh = F.max("high").over(wk)
    pct_k = 100.0 * (F.col("close") - ll) / F.nullif(hh - ll, F.lit(0.0))
    df = df.withColumn("pct_k", F.round(pct_k, 6))
    wd = rolling_window(key_col, order_col, d_window)
    return df.withColumn("pct_d", F.round(F.avg("pct_k").over(wd), 6))


def with_obv(
    df: DataFrame,
    key_col: str = "series_key",
    order_col: str = "date",
    out_col: str = "obv",
) -> DataFrame:
    """On-balance volume: running sum of sign(Δclose)·volume. Pure
    integer arithmetic (sign ∈ {-1,0,1} cast to BIGINT × the bar's
    trade count), so the oracle comparison is exact with no rounding."""
    wo = _ordered(key_col, order_col)
    delta = F.col("close") - F.lag("close").over(wo)
    signed = F.when(delta.isNull(), F.lit(0)).otherwise(
        F.signum(delta).cast("bigint")
    ) * F.col("volume")
    running = Window.partitionBy(key_col).orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn(out_col, F.sum(signed).over(running))


def with_donchian(
    df: DataFrame,
    key_col: str = "series_key",
    order_col: str = "date",
    window: int = 20,
    prefix: str = "dc",
) -> DataFrame:
    """Donchian channel: rolling max high / min low and their mid."""
    w = rolling_window(key_col, order_col, window)
    upper = F.max("high").over(w)
    lower = F.min("low").over(w)
    return (
        df.withColumn(f"{prefix}_upper", upper)
        .withColumn(f"{prefix}_lower", lower)
        .withColumn(f"{prefix}_mid", F.round((upper + lower) / 2.0, 6))
    )


def with_zscore(
    df: DataFrame,
    value_col: str = "close",
    key_col: str = "series_key",
    order_col: str = "date",
    window: int = 20,
    threshold: float = 2.0,
    out_col: str = "zscore",
) -> DataFrame:
    """Rolling z-score of ``value_col`` + an anomaly flag at
    |z| > threshold. NULL until the window is full (min_periods
    parity with the volatility family); a zero-variance window
    yields NULL rather than an ANSI division error."""
    w = rolling_window(key_col, order_col, window)
    n = F.count(value_col).over(w)
    mean = F.avg(value_col).over(w)
    sd = F.when(n >= window, F.stddev_samp(value_col).over(w))
    z = (F.col(value_col) - mean) / F.nullif(sd, F.lit(0.0))
    df = df.withColumn(out_col, F.round(z, 6))
    return df.withColumn(
        "is_anomaly",
        F.when(F.col(out_col).isNotNull(), F.abs(F.col(out_col)) > threshold),
    )


def with_pivot_points(
    df: DataFrame,
    key_col: str = "series_key",
    order_col: str = "date",
) -> DataFrame:
    """Floor-trader pivot levels from the PREVIOUS bar: P=(H+L+C)/3,
    R1=2P−L, S1=2P−H. The unrounded P feeds R1/S1 and every output
    rounds once at the end — both sides of the oracle do the same, so
    no double-rounding divergence. First bar per key is NULL."""
    wo = _ordered(key_col, order_col)
    ph = F.lag("high").over(wo)
    pl = F.lag("low").over(wo)
    pc = F.lag("close").over(wo)
    p = (ph + pl + pc) / 3.0
    return (
        df.withColumn("pivot", F.round(p, 6))
        .withColumn("r1", F.round(2.0 * p - pl, 6))
        .withColumn("s1", F.round(2.0 * p - ph, 6))
    )


def with_williams_r(
    df: DataFrame,
    key_col: str = "series_key",
    order_col: str = "date",
    window: int = 14,
    out_col: str = "williams_r",
) -> DataFrame:
    """Williams %R = −100·(rolling max high − close)/(rolling max high
    − rolling min low) — the stochastic %K mirrored to [−100, 0]. A
    flat lookback (high == low throughout) yields NULL, not an ANSI
    division error, matching ``with_stochastic``.

    Signed zero: when close == rolling high the numerator is exactly
    0 and the −100 factor makes it IEEE ``-0.0``; engines disagree on
    whether ``round`` preserves the sign (DuckDB does, Spark doesn't)
    and the driver canonicalizer hashes the sign bit (the one red r6
    row). ``+ 0.0`` after the final round normalizes: −0.0 + 0.0 =
    +0.0, every other value (incl. NULL) unchanged. Mirrored in the
    oracle SQL."""
    w = rolling_window(key_col, order_col, window)
    hh = F.max("high").over(w)
    ll = F.min("low").over(w)
    r = -100.0 * (hh - F.col("close")) / F.nullif(hh - ll, F.lit(0.0))
    return df.withColumn(out_col, F.round(r, 6) + F.lit(0.0))


def with_mfi(
    df: DataFrame,
    key_col: str = "series_key",
    order_col: str = "date",
    window: int = 14,
    out_col: str = "mfi",
) -> DataFrame:
    """Money-flow index: typical price tp=(H+L+C)/3, raw flow
    tp·volume signed by tp's direction vs the prior bar; MFI =
    100·pos/(pos+neg) over the window. Every term is a rolling sum of
    a row-local derived column, so the whole indicator stays inside
    the one per-key window shuffle (no second pass). Rounding: tp is
    rounded once (6dp) and the signed flows are derived from the
    ROUNDED tp on both engines, so direction ties break identically;
    an all-flat window (pos+neg = 0) yields NULL."""
    wo = _ordered(key_col, order_col)
    tp = F.round((F.col("high") + F.col("low") + F.col("close")) / 3.0, 6)
    df = df.withColumn("_tp", tp)
    d = F.col("_tp") - F.lag("_tp").over(wo)
    flow = F.round(F.col("_tp") * F.col("volume"), 6)
    pos = F.when(d > 0, flow).otherwise(F.lit(0.0))
    neg = F.when(d < 0, flow).otherwise(F.lit(0.0))
    df = df.withColumn("_pos", pos).withColumn("_neg", neg)
    w = rolling_window(key_col, order_col, window)
    sp = F.round(F.sum("_pos").over(w), 6)
    sn = F.round(F.sum("_neg").over(w), 6)
    mfi = 100.0 * sp / F.nullif(sp + sn, F.lit(0.0))
    return df.withColumn(out_col, F.round(mfi, 6)).drop("_tp", "_pos", "_neg")


def with_ulcer(
    df: DataFrame,
    key_col: str = "series_key",
    order_col: str = "date",
    window: int = 14,
    out_col: str = "ulcer",
) -> DataFrame:
    """Ulcer index — downside-risk counterpart of rolling volatility:
    pct drawdown from the ROLLING max close (not the running max the
    graded ``drawdown`` key uses), then sqrt of the window mean of
    its square. Two stacked rolling frames over one partitioning:
    the drawdown column is row-local once the rolling max lands, so
    the second frame reads a materialized column — decomposable,
    unlike mean-absolute-deviation indicators (CCI), which is why
    this one is in the window family and CCI is not."""
    w = rolling_window(key_col, order_col, window)
    peak = F.max("close").over(w)
    dd = F.round(100.0 * (F.col("close") - peak) / F.nullif(peak, F.lit(0.0)), 6)
    df = df.withColumn("dd_pct", dd)
    return df.withColumn(
        out_col, F.round(F.sqrt(F.avg(F.col("dd_pct") * F.col("dd_pct")).over(w)), 6)
    )
