"""Reference migration path: the reference's own CSV format flows
through ingestion into the derived-metric pipeline with pandas-exact
results (the reference computes these in pandas)."""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import functions as F

from stock_data_project_spark.operators.ingest import stocks_csv_to_fact
from stock_data_project_spark.sources import read_csv, stocks_csv_schema
from tests.conftest import assert_one_file_per_partition


def _reference_csv(path: str) -> pd.DataFrame:
    rows = []
    price = {"^GSPC": 4700.0, "^DJI": 37500.0}
    offset = {"^GSPC": 3, "^DJI": 5}  # fixed (hash() is seed-randomized)
    for d in range(1, 26):
        for tkr in ("^GSPC", "^DJI"):
            p = price[tkr] * (1 + ((d * 13 + offset[tkr]) % 11 - 5) / 500)
            rows.append(
                {
                    "Date": f"2024-01-{d:02d}",
                    "Ticker": tkr,
                    "Open": round(p * 0.999, 2),
                    "High": round(p * 1.01, 2),
                    "Low": round(p * 0.99, 2),
                    "Close": round(p, 2),
                    "Adj Close": round(p, 2),
                    "Volume": 1e6 + d,
                }
            )
    pdf = pd.DataFrame(rows)
    pdf.to_csv(path, index=False)
    return pdf


def test_run_daily_pipeline_end_to_end(spark):
    """The reference DAG equivalent: CSV drop in, queryable star
    layout out — with the Streamlit-style filtered read working on
    the result."""
    from stock_data_project_spark.operators.ingest import run_daily_pipeline

    with tempfile.TemporaryDirectory() as d:
        csv_path = os.path.join(d, "stocks_2024-01-26.csv")
        _reference_csv(csv_path)
        out = os.path.join(d, "star")
        run_daily_pipeline(spark, csv_path, out)
        fact_dir = os.path.join(out, "fact_market")
        fact = spark.read.parquet(fact_dir)
        dim = spark.read.parquet(os.path.join(out, "dim_entity"))
        assert fact.count() == 50
        assert_one_file_per_partition(fact_dir, ["year", "month"])
        dates = spark.read.parquet(os.path.join(out, "dim_date"))
        assert dates.count() == 25
        assert dates.join(fact, dates.date_key == fact.date).count() == 50
        assert dim.count() == 2
        # the Streamlit charts query shape (app.py:106-110) on the output
        one = (
            fact.join(dim, "entity_key")
            .filter(F.col("entity_name") == "^GSPC")
            .orderBy("date")
        )
        rows = one.select("date", "close", "daily_return", "volatility").collect()
        assert len(rows) == 25
        assert rows[0]["daily_return"] is None and rows[1]["daily_return"] is not None


def test_adjusted_close_diverges_at_split(spark):
    """The adjusted-close branch (bars_from_stocks_csv(price_col="Adj
    Close"), fetch_stocks.py:69-70): with a 2:1 split on day 10,
    adjusted and raw returns agree everywhere EXCEPT the row crossing
    the split date, where the raw series shows a phantom ~-50% move."""
    from stock_data_project_spark.operators.ingest import bars_from_stocks_csv
    from stock_data_project_spark.operators.returns import with_daily_return

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "stocks_2024-01-26.csv")
        pdf = _reference_csv(path)
        # 2:1 split on 2024-01-10: raw Close halves from that day on;
        # Adj Close rescales history so the adjusted series is smooth
        split = pdf["Date"] >= "2024-01-10"
        pdf.loc[split, ["Open", "High", "Low", "Close"]] /= 2.0
        pdf["Adj Close"] = pdf["Close"]
        pdf.loc[~split, "Adj Close"] /= 2.0
        pdf.to_csv(path, index=False)

        stocks = read_csv(spark, path, stocks_csv_schema()).drop("_corrupt_record")
        raw = with_daily_return(bars_from_stocks_csv(stocks, price_col="Close"))
        adj = with_daily_return(bars_from_stocks_csv(stocks, price_col="Adj Close"))
        r = raw.select("series_key", "date", F.col("daily_return").alias("rr"))
        a = adj.select("series_key", "date", F.col("daily_return").alias("ar"))
        both = r.join(a, ["series_key", "date"]).orderBy("series_key", "date").toPandas()

        cross = both["date"].dt.strftime("%Y-%m-%d") == "2024-01-10"
        # at the crossing: raw return is ~-50%-ish, adjusted is not
        assert (both.loc[cross, "rr"] < -0.4).all()
        assert ((both.loc[cross, "ar"] - both.loc[cross, "rr"]).abs() > 0.4).all()
        # everywhere else the two series agree to the 6dp rounding
        rest = both[~cross].dropna(subset=["rr", "ar"])
        assert (rest["rr"] - rest["ar"]).abs().max() <= 2e-6


def test_reference_csv_through_fact_pipeline(spark):
    with tempfile.TemporaryDirectory() as d:
        # NB the reference names drops "stocks:{date}.csv" — the colon
        # is a URI scheme separator to Hadoop and breaks every
        # HDFS-compatible filesystem; migrating users must rename
        path = os.path.join(d, "stocks_2024-01-26.csv")
        pdf = _reference_csv(path)
        stocks = read_csv(spark, path, stocks_csv_schema()).drop("_corrupt_record")
        fact = stocks_csv_to_fact(stocks)
        got = fact.orderBy("series_key", "date").toPandas()
        assert len(got) == len(pdf)
        # pandas-parity for the reference's DailyReturn (fetch_stocks.py:213)
        pdf = pdf.sort_values(["Ticker", "Date"]).reset_index(drop=True)
        expected = pdf.groupby("Ticker")["Close"].pct_change().round(6)
        pd.testing.assert_series_equal(
            got["daily_return"], expected, check_names=False
        )
        # volatility exists and is NULL until the 20-row window fills
        per_key = got[got["series_key"] == "^GSPC"]
        assert per_key["volatility"].isna().sum() == 20  # 19 window + 1 null return
        assert per_key["volatility"].notna().sum() == 5
