"""Rolling volatility and indicator bands.

The reference computes ``Volatility = rolling(window=20).std()`` of
the daily return per ticker (fetch_stocks.py:216). pandas'
``rolling(20)`` yields NULL until 20 observations exist
(min_periods == window); the Spark expression reproduces that by
masking rows with fewer than ``window`` preceding values.

All rolling stats are ``rowsBetween`` window aggregates partitioned
by the series key: per-key sorted state, no cross-key shuffle beyond
the initial hash partition, codegen'd stddev/avg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rolling_window(key_col: str, order_col: str, window: int):
    """The trailing ``window``-row frame per key, current row last."""
    return (
        Window.partitionBy(key_col).orderBy(order_col).rowsBetween(-(window - 1), 0)
    )


def with_rolling_volatility(
    df: DataFrame,
    return_col: str = "daily_return",
    key_col: str = "series_key",
    order_col: str = "date",
    window: int = 20,
    out_col: str = "volatility",
) -> DataFrame:
    """Sample stddev of the last ``window`` returns; NULL until the
    window is full (pandas ``rolling(window).std()`` parity)."""
    w = rolling_window(key_col, order_col, window)
    n = F.count(return_col).over(w)
    vol = F.when(n >= window, F.stddev_samp(return_col).over(w))
    return df.withColumn(out_col, F.round(vol, 6))


def with_sma(
    df: DataFrame,
    value_col: str = "close",
    key_col: str = "series_key",
    order_col: str = "date",
    window: int = 20,
    out_col: str | None = None,
) -> DataFrame:
    w = rolling_window(key_col, order_col, window)
    return df.withColumn(out_col or f"sma_{window}", F.round(F.avg(value_col).over(w), 6))


def with_bollinger(
    df: DataFrame,
    value_col: str = "close",
    key_col: str = "series_key",
    order_col: str = "date",
    window: int = 20,
    num_std: float = 2.0,
    prefix: str = "bb",
) -> DataFrame:
    """SMA ± num_std · rolling sample stddev (NULL until window full)."""
    w = rolling_window(key_col, order_col, window)
    n = F.count(value_col).over(w)
    mid = F.avg(value_col).over(w)
    sd = F.when(n >= window, F.stddev_samp(value_col).over(w))
    return (
        df.withColumn(f"{prefix}_mid", F.round(mid, 6))
        .withColumn(f"{prefix}_upper", F.round(mid + num_std * sd, 6))
        .withColumn(f"{prefix}_lower", F.round(mid - num_std * sd, 6))
    )


def with_macd(
    df: DataFrame,
    value_col: str = "close",
    key_col: str = "series_key",
    order_col: str = "date",
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
) -> DataFrame:
    """MACD (EMA_fast - EMA_slow) + signal line + histogram.

    EMA is recursive (each value depends on the previous), so it
    can't be a window aggregate; per-series state is the textbook
    ``applyInPandas`` case: one pandas group per series key, Arrow
    batched, parallel across keys. At 100 TB this scales with the
    number of series, and each group is one key's (small) daily
    history."""
    import pandas as pd  # noqa: F401  (executor-side)
    from pyspark.sql import types as T

    # derive pass-through column types from the input so callers with
    # non-default key/order/value columns keep a matching Arrow schema
    in_fields = {f.name: f.dataType for f in df.schema.fields}
    out_schema = T.StructType(
        [
            T.StructField(key_col, in_fields[key_col]),
            T.StructField(order_col, in_fields[order_col]),
            T.StructField(value_col, in_fields[value_col]),
            T.StructField("macd", T.DoubleType()),
            T.StructField("macd_signal", T.DoubleType()),
            T.StructField("macd_hist", T.DoubleType()),
        ]
    )

    def per_series(pdf):
        pdf = pdf.sort_values(order_col)
        fast_e = pdf[value_col].ewm(span=fast, adjust=False).mean()
        slow_e = pdf[value_col].ewm(span=slow, adjust=False).mean()
        macd = fast_e - slow_e
        sig = macd.ewm(span=signal, adjust=False).mean()
        pdf = pdf[[key_col, order_col, value_col]].copy()
        pdf["macd"] = macd.round(6)
        pdf["macd_signal"] = sig.round(6)
        pdf["macd_hist"] = (macd - sig).round(6)
        return pdf

    return df.select(key_col, order_col, value_col).groupBy(key_col).applyInPandas(
        per_series, schema=out_schema
    )


def with_wilder_rsi(
    df: DataFrame,
    value_col: str = "close",
    key_col: str = "series_key",
    order_col: str = "date",
    window: int = 14,
    out_col: str = "wilder_rsi",
) -> DataFrame:
    """Wilder-smoothed RSI — the classic variant a finance stack
    migrating from the reference expects (``with_rsi`` deliberately
    ships the window-expressible simple-average one): average gain /
    loss seeded with the SMA of the first ``window`` deltas, then
    recursively smoothed as avg = (prev*(window-1) + cur) / window.

    The recursion can't be a window aggregate, so per-series state
    runs in ``applyInPandas`` (same seam as ``with_macd``): one Arrow
    batch per series key, parallel across keys. Inside the batch the
    recursion IS vectorized — (prev*(n-1)+cur)/n is exactly
    ``ewm(alpha=1/window, adjust=False)`` once its initial state is
    the SMA seed, so the seed is prepended and pandas' C path does
    the rest. NULL until ``window`` deltas exist (pandas parity)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    in_fields = {f.name: f.dataType for f in df.schema.fields}
    out_schema = T.StructType(
        [
            T.StructField(key_col, in_fields[key_col]),
            T.StructField(order_col, in_fields[order_col]),
            T.StructField(value_col, in_fields[value_col]),
            T.StructField(out_col, T.DoubleType()),
        ]
    )

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        px = pdf[value_col].astype(float).to_numpy()
        n = len(px)
        rsi = np.full(n, np.nan)
        if n > window:
            delta = np.diff(px)
            gains = np.clip(delta, 0.0, None)
            losses = np.clip(-delta, 0.0, None)

            def smooth(x: np.ndarray) -> np.ndarray:
                seeded = np.concatenate([[x[:window].mean()], x[window:]])
                return (
                    pd.Series(seeded).ewm(alpha=1.0 / window, adjust=False).mean().to_numpy()
                )

            ag, al = smooth(gains), smooth(losses)
            with np.errstate(divide="ignore", invalid="ignore"):
                vals = np.where(al == 0.0, 100.0, 100.0 - 100.0 / (1.0 + ag / al))
            rsi[window:] = vals
        out = pdf[[key_col, order_col, value_col]].copy()
        out[out_col] = np.round(rsi, 6)
        return out

    return df.select(key_col, order_col, value_col).groupBy(key_col).applyInPandas(
        per_series, schema=out_schema
    )


def with_rsi(
    df: DataFrame,
    value_col: str = "close",
    key_col: str = "series_key",
    order_col: str = "date",
    window: int = 14,
    out_col: str = "rsi",
) -> DataFrame:
    """Simple-average RSI: 100 - 100/(1 + avg_gain/avg_loss) over the
    last ``window`` price changes (the window-expressible variant;
    Wilder's recursive smoothing is intentionally not used so the op
    stays a pure window aggregate)."""
    seq = Window.partitionBy(key_col).orderBy(order_col)
    delta = F.col(value_col) - F.lag(value_col).over(seq)
    df2 = df.withColumn("_delta", delta)
    w = rolling_window(key_col, order_col, window)
    gain = F.avg(F.when(F.col("_delta") > 0, F.col("_delta")).otherwise(0.0)).over(w)
    loss = F.avg(F.when(F.col("_delta") < 0, -F.col("_delta")).otherwise(0.0)).over(w)
    n = F.count("_delta").over(w)
    rsi = F.when(
        n >= window,
        F.when(loss == 0, F.lit(100.0)).otherwise(100.0 - 100.0 / (1.0 + gain / loss)),
    )
    return df2.withColumn(out_col, F.round(rsi, 6)).drop("_delta")
