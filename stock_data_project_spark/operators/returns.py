"""Return metrics: pct-change, log return, cumulative return, drawdown.

The reference computes ``DailyReturn = groupby(Ticker).Close.pct_change()``
(fetch_stocks.py:213) driver-side in pandas. Here each is a window
expression partitioned by the series key — per-key state never leaves
the executor that owns the key's partition, so the op scales linearly
with the number of series.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _series_window(key_col: str, order_col: str):
    return Window.partitionBy(key_col).orderBy(order_col)


def pct_change(value_col: str, key_col: str, order_col: str) -> Column:
    """(v - lag(v)) / lag(v) per key; NULL on the first row (pandas
    parity) and NULL when the previous value is zero (a return from a
    zero price is undefined; plain division would raise under ANSI
    mode)."""
    prev = F.lag(value_col).over(_series_window(key_col, order_col))
    return F.try_divide(F.col(value_col) - prev, prev)


def with_daily_return(
    df: DataFrame,
    value_col: str = "close",
    key_col: str = "series_key",
    order_col: str = "date",
    out_col: str = "daily_return",
) -> DataFrame:
    return df.withColumn(out_col, F.round(pct_change(value_col, key_col, order_col), 6))


def with_log_return(
    df: DataFrame,
    value_col: str = "close",
    key_col: str = "series_key",
    order_col: str = "date",
    out_col: str = "log_return",
) -> DataFrame:
    prev = F.lag(value_col).over(_series_window(key_col, order_col))
    return df.withColumn(
        out_col, F.round(F.log(F.try_divide(F.col(value_col), prev)), 6)
    )


def with_cumulative_return(
    df: DataFrame,
    return_col: str = "daily_return",
    key_col: str = "series_key",
    order_col: str = "date",
    out_col: str = "cum_return",
) -> DataFrame:
    """Running product of (1 + r) - 1, via sum-of-logs (associative →
    partial-aggregatable window; a running product UDF would not be).

    A -100% (or worse) day makes log(1+r) undefined; once one occurs
    the position is wiped and every later cumulative return is pinned
    to -1 (F.sum would otherwise silently skip the NULL log and
    resurrect the series)."""
    w = _series_window(key_col, order_col).rowsBetween(Window.unboundedPreceding, 0)
    r = F.coalesce(F.col(return_col), F.lit(0.0))
    log1p = F.log(F.lit(1.0) + r)
    wiped = F.max(F.when(r <= -1.0, F.lit(1)).otherwise(F.lit(0))).over(w)
    cum = F.when(wiped == 1, F.lit(-1.0)).otherwise(F.exp(F.sum(log1p).over(w)) - 1)
    return df.withColumn(out_col, F.round(cum, 6))


def with_drawdown(
    df: DataFrame,
    value_col: str = "close",
    key_col: str = "series_key",
    order_col: str = "date",
    out_col: str = "drawdown",
) -> DataFrame:
    """(v - running_max(v)) / running_max(v); 0 at new highs; NULL
    while the running peak is 0 (drawdown from a zero peak is
    undefined, and plain division raises under ANSI mode)."""
    w = _series_window(key_col, order_col).rowsBetween(Window.unboundedPreceding, 0)
    peak = F.max(value_col).over(w)
    return df.withColumn(
        out_col, F.round(F.try_divide(F.col(value_col) - peak, peak), 6)
    )


# DuckDB twins, as WITH-clause CTEs over ``bars``
# (operators/series.DAILY_BARS_SQL): ``ret`` mirrors
# with_daily_return; ``rr`` is its non-NULL returns as DECIMAL(18,6)
# ``r_d``, the exact form the series statistics aggregate.

DAILY_RETURN_SQL = """
ret AS (
    SELECT series_key, date, open, high, low, close, volume, turnover,
           round((close - lag(close) OVER w) / nullif(lag(close) OVER w, 0), 6) AS daily_return
    FROM bars
    WINDOW w AS (PARTITION BY series_key ORDER BY date)
)"""

DECIMAL_RETURNS_SQL = """
rr AS (
    SELECT series_key, date, CAST(daily_return AS DECIMAL(18,6)) AS r_d
    FROM ret WHERE daily_return IS NOT NULL
)"""
