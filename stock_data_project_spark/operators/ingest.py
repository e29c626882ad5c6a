"""Reference-format ingestion: the migration path for a user of the
reference project.

The reference stores daily OHLCV rows fetched from Yahoo Finance as
CSV (``Date,Ticker,Open,High,Low,Close,Adj Close,Volume`` —
fetch_stocks.py:69-70). ``bars_from_stocks_csv`` adapts that layout
straight into this engine's canonical daily-bar schema, so every
downstream operator (returns, volatility, star build, dashboards)
runs unchanged on the reference's own data drops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stock_data_project_spark.operators.returns import with_daily_return
from stock_data_project_spark.operators.volatility import with_rolling_volatility


def bars_from_stocks_csv(stocks: DataFrame, price_col: str = "Close") -> DataFrame:
    """Reference stocks CSV rows -> canonical daily bars
    (series_key, date, open, high, low, close, volume, turnover).

    The source is already daily-resolution, so no resample happens.
    ``close`` comes from ``price_col`` — default ``Close``, matching
    the reference (it computes returns on Close, fetch_stocks.py:213);
    pass ``"Adj Close"`` for split/dividend-adjusted analytics."""
    return stocks.select(
        F.col("Ticker").alias("series_key"),
        F.col("Date").cast("timestamp").alias("date"),
        F.col("Open").alias("open"),
        F.col("High").alias("high"),
        F.col("Low").alias("low"),
        F.col(price_col).alias("close"),
        F.col("Volume").cast("long").alias("volume"),
        # turnover is traded notional — always raw Close x Volume,
        # even when close carries adjusted prices
        F.round(F.col("Close") * F.col("Volume"), 6).alias("turnover"),
    )


def stocks_csv_to_fact(stocks: DataFrame) -> DataFrame:
    """The reference's full derived-metric pipeline on its own CSV:
    daily return + 20-day rolling volatility per ticker
    (fetch_stocks.py:213-216)."""
    bars = bars_from_stocks_csv(stocks)
    bars = with_daily_return(bars)
    return with_rolling_volatility(bars, window=20)


def run_daily_pipeline(spark, stocks_csv_path: str, out_dir: str) -> None:
    """The reference DAG end-to-end (fetch_stocks.py:292-317:
    fetch_stocks >> fetch_world_bank >> create_star_schema), minus
    the network fetchers (Airflow's job): read the CSV drop, derive
    the fact metrics, write the queryable parquet star layout. One
    call replaces the reference's daily create_star_schema task."""
    import os

    from stock_data_project_spark.functions.dateparts import dow, is_weekend
    from stock_data_project_spark.functions.keys import surrogate_key
    from stock_data_project_spark.sources import read_csv, stocks_csv_schema
    from stock_data_project_spark.sources.writers import write_partitioned

    stocks = read_csv(spark, stocks_csv_path, stocks_csv_schema())
    # cache the PARSED rows before branching: without it, each write
    # re-parses the CSV with its own pruned column set, and a row
    # corrupt only in a pruned-away column gets rejected by the fact
    # branch but kept by the dim branch (inconsistent star schema);
    # the cache also collapses three CSV scans into one
    good = (
        stocks.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record").cache()
    )
    try:
        fact = stocks_csv_to_fact(good)
        fact = (
            fact.withColumn("entity_key", surrogate_key("series_key"))
            .withColumn("year", F.year("date"))
            .withColumn("month", F.month("date"))
        )
        write_partitioned(fact, os.path.join(out_dir, "fact_market"), ["year", "month"])
        dim = (
            good.select(F.col("Ticker").alias("entity_name"))
            .distinct()
            .select(surrogate_key("entity_name").alias("entity_key"), "entity_name")
        )
        dim.write.mode("overwrite").parquet(os.path.join(out_dir, "dim_entity"))
        # dim_date from the cached rows with the fact's own date cast
        # (bars_from_stocks_csv), instead of re-running the window
        # pipeline or listing and re-reading the fact just written
        dates = (
            good.select(F.col("Date").cast("timestamp").alias("date"))
            .distinct()
            .select(
                F.col("date").alias("date_key"),
                F.year("date").alias("year"),
                F.month("date").alias("month"),
                dow("date").alias("dow"),
                is_weekend("date").alias("is_weekend"),
            )
        )
        dates.write.mode("overwrite").parquet(os.path.join(out_dir, "dim_date"))
    finally:
        good.unpersist()
