"""Time-series resampling: raw events -> per-key daily bars.

The reference ingests pre-aggregated daily OHLCV rows from Yahoo
Finance (fetch_stocks.py:65-70). Here the raw tick-like ``events``
table is resampled to the same shape: one row per (key, day) with
open/high/low/close/volume. This is a single map-side-combinable
groupBy — one shuffle on (key, day), which at 100 TB is the minimal
shuffle any daily rollup needs; ``min_by``/``max_by`` avoid a sort
or window pass entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def daily_bars(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """One row per (key, date): open/high/low/close/volume/turnover.

    open/close are the first/last value by timestamp within the day
    (``min_by``/``max_by`` — no window, so the agg stays partial-
    aggregatable and the only shuffle is the groupBy itself).

    ``date`` is a midnight TIMESTAMP, not a DATE: Spark DATE arrives
    in pandas as ``object(datetime.date)`` while DuckDB DATE arrives
    as ``datetime64``, so a date-typed output column would depend on
    the oracle harness normalizing the two; midnight timestamps have
    identical values and string forms on both engines.
    """
    d = F.date_trunc("day", F.col(ts_col)).alias("date")
    return (
        events.groupBy(F.col(key_col).alias("series_key"), d)
        .agg(
            F.min_by(value_col, ts_col).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(value_col, ts_col).alias("close"),
            F.count(F.lit(1)).alias("volume"),
            F.round(F.sum(value_col), 6).alias("turnover"),
        )
    )


def daily_bars_rn(events: DataFrame) -> DataFrame:
    """:func:`daily_bars` plus ``rn``, the per-series 1-based day
    index (INT). Recurrences and rn-range frames order on it."""
    bars = daily_bars(events)
    w = Window.partitionBy("series_key").orderBy("date")
    return bars.withColumn("rn", F.row_number().over(w).cast("int"))


# DuckDB twins of the two builders above, as WITH-clause CTEs
# (``bars`` and ``bars``+``seq``), for the oracle SQL of every key
# built on daily bars. They must mirror the Spark code exactly,
# including where rounding is applied.

DAILY_BARS_SQL = """
bars AS (
    SELECT event_type AS series_key,
           date_trunc('day', ts) AS date,
           arg_min(value, ts) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, ts) AS close,
           count(*) AS volume,
           round(sum(value), 6) AS turnover
    FROM events
    GROUP BY 1, 2
)"""

DAILY_BARS_RN_SQL = f"""
{DAILY_BARS_SQL}, seq AS (
    SELECT *, CAST(row_number() OVER (PARTITION BY series_key
                                      ORDER BY date) AS INT) AS rn
    FROM bars
)"""
