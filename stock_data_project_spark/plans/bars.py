"""The reference's star build and dashboard reads: bars, returns,
volatility.

Maps the reference's pipeline (fetch_stocks.py:122-282) and query
layer (streamlit/app.py:82-132) onto the ``events`` table:
event_type ≈ ticker, ts ≈ trade time, value ≈ price. Every key starts
from ``operators/series.daily_bars``; the oracles start from its SQL
twin, ``DAILY_BARS_SQL``, and the returns twin ``DAILY_RETURN_SQL``.
The technical indicators built on the same bars live in
plans/indicators.py, the series statistics in plans/statistics.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_data_project_spark.catalog import load_table
from stock_data_project_spark.operators.returns import (
    DAILY_RETURN_SQL,
    with_cumulative_return,
    with_daily_return,
    with_drawdown,
)
from stock_data_project_spark.operators.series import DAILY_BARS_SQL, daily_bars
from stock_data_project_spark.operators.star import (
    annual_indicators,
    build_fact,
    dim_date,
    dim_entity,
)
from stock_data_project_spark.operators.volatility import (
    with_bollinger,
    with_rolling_volatility,
    with_rsi,
    with_sma,
)

# ---------------------------------------------------------------- SQL
# Oracle CTEs used only here (DuckDB dialect == ANSI + arg_min/arg_max):
# ``vol`` mirrors operators/volatility.with_rolling_volatility and
# ``annual`` mirrors operators/star.annual_indicators.

_VOL = """
vol AS (
    SELECT *,
           round(CASE WHEN count(daily_return) OVER w20 >= 20
                      THEN stddev_samp(daily_return) OVER w20 END, 6) AS volatility
    FROM ret
    WINDOW w20 AS (PARTITION BY series_key ORDER BY date
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)"""

_ANNUAL = """
annual AS (
    SELECT CAST(year(CAST(ts AS DATE)) AS INT) AS year,
           round(avg(value), 6) AS annual_avg_value,
           round(stddev_samp(value), 6) AS annual_value_dispersion
    FROM events
    GROUP BY 1
)"""


# ------------------------------------------------------------ queries

def q_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DimDate = union of the trading calendar and the annual
    indicator calendar (fetch_stocks.py:165-184 unions the stocks and
    world-bank SELECT DISTINCTs), so indicator years with no trading
    days still appear."""
    ev = load_table(spark, sf_dir, "events")
    return dim_date(ev, indicator_years=annual_indicators(ev))


def q_dim_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dim_entity(load_table(spark, sf_dir, "events"))


def q_dim_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stock_data_project_spark.operators.star import dim_country

    return dim_country(spark)


def q_fact_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_fact(load_table(spark, sf_dir, "events"))


def q_daily_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars(load_table(spark, sf_dir, "events"))
    return with_daily_return(bars).select("series_key", "date", "close", "daily_return")


def q_log_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key log return ln(close / lag(close)) — the additive
    counterpart of daily_return (sums telescope across time, the
    form every multi-period risk model wants)."""
    from stock_data_project_spark.operators.returns import with_log_return

    bars = daily_bars(load_table(spark, sf_dir, "events"))
    return with_log_return(bars).select("series_key", "date", "close", "log_return")


def q_rolling_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = with_daily_return(daily_bars(load_table(spark, sf_dir, "events")))
    return with_rolling_volatility(bars, window=20).select(
        "series_key", "date", "daily_return", "volatility"
    )


def q_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Streamlit charts query (app.py:106-110): one series key,
    date-range filter, ordered time series. Filter lands before the
    aggregation so partition pruning applies at the scan."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "click")
        & (F.to_date("ts") >= F.lit("2024-01-10"))
        & (F.to_date("ts") <= F.lit("2024-01-20"))
    )
    bars = with_daily_return(daily_bars(ev))
    return bars.select("series_key", "date", "close", "daily_return").orderBy("date")


def q_annual_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bars = daily_bars(ev)
    ann = annual_indicators(ev)
    return (
        bars.join(F.broadcast(ann), F.year(bars.date) == ann.year, "left")
        .select("series_key", "date", "close", "annual_avg_value", "annual_value_dispersion")
    )


def q_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return daily_bars(load_table(spark, sf_dir, "events"))


def q_sma_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars(load_table(spark, sf_dir, "events"))
    bars = with_sma(bars, window=5, out_col="sma_5")
    bars = with_sma(bars, window=20, out_col="sma_20")
    return bars.select(
        "series_key",
        "date",
        "close",
        "sma_5",
        "sma_20",
        (F.col("sma_5") > F.col("sma_20")).alias("golden_cross"),
    )


def q_cumulative_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = with_daily_return(daily_bars(load_table(spark, sf_dir, "events")))
    return with_cumulative_return(bars).select("series_key", "date", "daily_return", "cum_return")


def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars(load_table(spark, sf_dir, "events"))
    return with_drawdown(bars).select("series_key", "date", "close", "drawdown")


def q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars(load_table(spark, sf_dir, "events"))
    return with_bollinger(bars, window=20).select(
        "series_key", "date", "close", "bb_mid", "bb_upper", "bb_lower"
    )


def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_bars(load_table(spark, sf_dir, "events"))
    return with_rsi(bars, window=14).select("series_key", "date", "close", "rsi")


def q_incremental_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest watermark per source key (get_last_saved_date analog,
    fetch_stocks.py:19-37): the max already-stored timestamp drives
    the next incremental fetch."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("event_type").alias("series_key")).agg(
        F.max("ts").alias("high_watermark"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_return_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation of daily returns between series — the
    reference's stated goal ('relationship between economic
    indicators and stock performance', readme.md) as a first-class
    query. Self-join on date of the (small) per-day return frame."""
    bars = with_daily_return(daily_bars(load_table(spark, sf_dir, "events")))
    r = bars.select("series_key", "date", "daily_return")
    a = r.select(F.col("series_key").alias("key_a"), "date", F.col("daily_return").alias("ra"))
    b = r.select(F.col("series_key").alias("key_b"), "date", F.col("daily_return").alias("rb"))
    return (
        a.join(b, "date")
        .filter(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(F.round(F.corr("ra", "rb"), 6).alias("return_corr"))
    )


def q_market_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta of each series vs the equal-weight market return:
    regr_slope(series_return, market_return). The market frame is a
    tiny per-date aggregate -> broadcast join."""
    bars = with_daily_return(daily_bars(load_table(spark, sf_dir, "events")))
    r = bars.select("series_key", "date", "daily_return")
    # the per-date average is a non-associative aggregate feeding
    # another one (regr_slope/corr) — round it per the parity rule so
    # engine summation-order drift can't flip the final 6dp rounding
    market = r.groupBy("date").agg(F.round(F.avg("daily_return"), 6).alias("mkt_return"))
    return (
        r.join(F.broadcast(market), "date")
        .groupBy("series_key")
        .agg(
            F.round(F.regr_slope("daily_return", "mkt_return"), 6).alias("beta"),
            F.round(F.corr("daily_return", "mkt_return"), 6).alias("mkt_corr"),
        )
    )


def q_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-day ROLLING correlation between two series' returns (corr
    as a window aggregate over a rows frame — the time-varying
    version of `return_correlation`).

    SCALE NOTE: ``Window.orderBy`` with no partitionBy is a
    single-partition global window. Here it is safe BY CONSTRUCTION —
    the joined frame has exactly one row per calendar date (two fixed
    series), so its size is bounded by the calendar, not the data.
    Do not copy this shape onto a per-key frame: partition by the
    pair key instead (as every other rolling operator here does)."""
    from pyspark.sql import Window

    bars = with_daily_return(daily_bars(load_table(spark, sf_dir, "events")))
    a = bars.filter(F.col("series_key") == "click").select(
        "date", F.col("daily_return").alias("ra")
    )
    b = bars.filter(F.col("series_key") == "view").select(
        "date", F.col("daily_return").alias("rb")
    )
    joined = a.join(b, "date")
    w = Window.orderBy("date").rowsBetween(-19, 0)
    n = F.count(F.when(F.col("ra").isNotNull() & F.col("rb").isNotNull(), 1)).over(w)
    return joined.select(
        "date",
        "ra",
        "rb",
        F.round(F.when(n >= 10, F.corr("ra", "rb").over(w)), 6).alias("rolling_corr"),
    )


def q_range_window_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: 7-calendar-day trailing average close
    (vs the ROWS frames elsewhere — a RANGE frame keeps correct
    semantics when days are missing, since it bounds by value
    distance, not row count)."""
    from pyspark.sql import Window

    bars = daily_bars(load_table(spark, sf_dir, "events"))
    day_num = F.datediff(F.col("date"), F.lit("1970-01-01"))
    w = (
        Window.partitionBy("series_key")
        .orderBy(day_num)
        .rangeBetween(-6, 0)
    )
    return bars.select(
        "series_key",
        "date",
        "close",
        F.round(F.avg("close").over(w), 6).alias("avg_7d"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill + forward-fill: build a continuous daily
    spine per series (sequence/explode), left-join the sparse
    observations (high-value purchase days only, so real gaps exist),
    and carry the last close forward (last ignorenulls window) —
    the trading-calendar alignment every time-series store needs."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 200)
    )
    bars = daily_bars(ev).select("series_key", "date", "close", "volume")
    bounds = bars.groupBy("series_key").agg(
        F.min("date").alias("mn"), F.max("date").alias("mx")
    )
    spine = bounds.select(
        "series_key",
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 day"))).alias("date"),
    )
    j = spine.join(bars, ["series_key", "date"], "left")
    w = (
        Window.partitionBy("series_key")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "series_key",
        "date",
        F.col("close").alias("close_raw"),
        F.last("close", ignorenulls=True).over(w).alias("close_ff"),
        F.col("close").isNull().alias("was_gap"),
    )


def q_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD via applyInPandas (recursive EMA state per series) —
    rows-only check: EMA recursion isn't window-expressible in SQL."""
    from stock_data_project_spark.operators.volatility import with_macd

    bars = daily_bars(load_table(spark, sf_dir, "events"))
    return with_macd(bars)


def q_wilder_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder-smoothed RSI via applyInPandas (recursive smoothing
    state per series, SMA-seeded) — rows-only check: the recursion
    isn't window-expressible in SQL. Complements the simple-average
    ``rsi`` the same way with_macd complements SMA crossovers."""
    from stock_data_project_spark.operators.volatility import with_wilder_rsi

    bars = daily_bars(load_table(spark, sf_dir, "events"))
    return with_wilder_rsi(bars, window=14)


def q_adj_close_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted-close analytics through the reference-CSV migration
    path (fetch_stocks.py:69-70 fetches both ``Close`` and ``Adj
    Close``; the reference computes returns on Close only — this
    query grades the adjusted branch of ``bars_from_stocks_csv``).

    The testdata has no pre-adjusted series, so the query synthesizes
    one deterministically: a 2:1 split on 2024-01-15 means every
    close before the split is halved in adjusted terms. Both price
    columns then flow through the SAME adapter + return operator;
    adjusted and raw returns agree everywhere except the row that
    crosses the split date (where the raw series shows a phantom
    ~-50% move and the adjusted one does not)."""
    from stock_data_project_spark.operators.ingest import bars_from_stocks_csv

    bars = daily_bars(load_table(spark, sf_dir, "events"))
    adj_factor = F.when(F.col("date") < F.lit("2024-01-15"), 0.5).otherwise(1.0)
    stocks_shape = bars.select(
        F.col("series_key").alias("Ticker"),
        F.col("date").alias("Date"),
        F.col("open").alias("Open"),
        F.col("high").alias("High"),
        F.col("low").alias("Low"),
        F.col("close").alias("Close"),
        (F.col("close") * adj_factor).alias("Adj Close"),
        F.col("volume").alias("Volume"),
    )
    adj = with_daily_return(bars_from_stocks_csv(stocks_shape, price_col="Adj Close"))
    raw = with_daily_return(bars_from_stocks_csv(stocks_shape, price_col="Close"))
    return (
        adj.select(
            "series_key",
            "date",
            F.col("close").alias("adj_close"),
            F.col("daily_return").alias("adj_return"),
        )
        .join(
            raw.select(
                "series_key", "date", F.col("daily_return").alias("raw_return")
            ),
            ["series_key", "date"],
        )
        .withColumn(
            "split_artifact",
            F.coalesce(
                F.round(F.col("raw_return") - F.col("adj_return"), 6) != 0.0,
                F.lit(False),
            ),
        )
    )


def q_weekly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar re-aggregation: daily bars -> weekly OHLC. The weekly
    rollup reuses the daily shuffle's partial results (groupBy on a
    coarser key of the same dimensions)."""
    bars = daily_bars(load_table(spark, sf_dir, "events"))
    week = F.date_trunc("week", F.col("date")).alias("week_start")
    return bars.groupBy("series_key", week).agg(
        F.min_by("open", "date").alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", "date").alias("close"),
        F.sum("volume").alias("volume"),
    )


def q_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard 'top movers': the 10 largest absolute daily returns
    across all series (pre-aggregated frame -> tiny global sort)."""
    bars = with_daily_return(daily_bars(load_table(spark, sf_dir, "events")))
    return (
        bars.filter(F.col("daily_return").isNotNull())
        .select("series_key", "date", "close", "daily_return",
                F.abs("daily_return").alias("abs_return"))
        .orderBy(F.desc("abs_return"), "series_key", "date")
        .limit(10)
    )


def q_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraday activity profile: count/avg value by hour-of-day per
    series (calendar-attribute aggregation, scan-only + one agg)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("event_type").alias("series_key"),
            F.hour("ts").alias("hour_of_day"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
    )


QUERIES = {
    "top_movers": q_top_movers,
    "hourly_profile": q_hourly_profile,
    "weekly_bars": q_weekly_bars,
    "return_correlation": q_return_correlation,
    "rolling_correlation": q_rolling_correlation,
    "gap_fill": q_gap_fill,
    "range_window_avg": q_range_window_avg,
    "market_beta": q_market_beta,
    "macd": q_macd,
    "wilder_rsi": q_wilder_rsi,
    "adj_close_returns": q_adj_close_returns,
    "dim_date": q_dim_date,
    "dim_entity": q_dim_entity,
    "dim_country": q_dim_country,
    "fact_build": q_fact_build,
    "daily_return": q_daily_return,
    "log_return": q_log_return,
    "rolling_volatility": q_rolling_volatility,
    "filter_range": q_filter_range,
    "annual_join": q_annual_join,
    "ohlc_daily": q_ohlc_daily,
    "sma_cross": q_sma_cross,
    "cumulative_return": q_cumulative_return,
    "drawdown": q_drawdown,
    "bollinger": q_bollinger,
    "rsi": q_rsi,
    "incremental_watermark": q_incremental_watermark,
}

ORACLE = {
    "top_movers": f"""
        WITH {DAILY_BARS_SQL}, {DAILY_RETURN_SQL}
        SELECT series_key, date, close, daily_return,
               abs(daily_return) AS abs_return
        FROM ret
        WHERE daily_return IS NOT NULL
        ORDER BY abs_return DESC, series_key, date
        LIMIT 10
    """,
    "hourly_profile": """
        SELECT event_type AS series_key,
               CAST(hour(ts) AS INT) AS hour_of_day,
               count(*) AS n,
               round(avg(value), 6) AS avg_value
        FROM events
        GROUP BY 1, 2
    """,
    "weekly_bars": f"""
        WITH {DAILY_BARS_SQL}
        SELECT series_key,
               date_trunc('week', date) AS week_start,
               arg_min(open, date) AS open,
               max(high) AS high,
               min(low) AS low,
               arg_max(close, date) AS close,
               CAST(sum(volume) AS BIGINT) AS volume
        FROM bars
        GROUP BY 1, 2
    """,
    "range_window_avg": f"""
        WITH {DAILY_BARS_SQL}
        SELECT series_key, date, close,
               round(avg(close) OVER w, 6) AS avg_7d,
               count(*) OVER w AS n_in_window
        FROM bars
        WINDOW w AS (PARTITION BY series_key
                     ORDER BY date_diff('day', DATE '1970-01-01', date)
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    "gap_fill": """
        WITH sparse AS (
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
        )
        SELECT s.series_key, s.date,
               b.close AS close_raw,
               last_value(b.close IGNORE NULLS) OVER (
                   PARTITION BY s.series_key ORDER BY s.date
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ff,
               b.close IS NULL AS was_gap
        FROM spine s LEFT JOIN sparse b
          ON s.series_key = b.series_key AND s.date = b.date
    """,
    "rolling_correlation": f"""
        WITH {DAILY_BARS_SQL}, {DAILY_RETURN_SQL},
        a AS (SELECT date, daily_return AS ra FROM ret WHERE series_key = 'click'),
        b AS (SELECT date, daily_return AS rb FROM ret WHERE series_key = 'view'),
        j AS (SELECT a.date, ra, rb FROM a JOIN b ON a.date = b.date)
        SELECT date, ra, rb,
               round(CASE WHEN count(CASE WHEN ra IS NOT NULL AND rb IS NOT NULL
                                          THEN 1 END) OVER w >= 10
                          THEN corr(ra, rb) OVER w END, 6) AS rolling_corr
        FROM j
        WINDOW w AS (ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
    "return_correlation": f"""
        WITH {DAILY_BARS_SQL}, {DAILY_RETURN_SQL}
        SELECT a.series_key AS key_a, b.series_key AS key_b,
               round(corr(a.daily_return, b.daily_return), 6) AS return_corr
        FROM ret a JOIN ret b ON a.date = b.date AND a.series_key < b.series_key
        GROUP BY 1, 2
    """,
    "market_beta": f"""
        WITH {DAILY_BARS_SQL}, {DAILY_RETURN_SQL},
        market AS (
            SELECT date, round(avg(daily_return), 6) AS mkt_return FROM ret GROUP BY date
        )
        SELECT r.series_key,
               round(regr_slope(r.daily_return, m.mkt_return), 6) AS beta,
               round(corr(r.daily_return, m.mkt_return), 6) AS mkt_corr
        FROM ret r JOIN market m ON r.date = m.date
        GROUP BY r.series_key
    """,
    "dim_date": """
        WITH cal AS (
            SELECT DISTINCT date_trunc('day', ts) AS date_key FROM events
            UNION
            SELECT DISTINCT CAST(make_date(CAST(year(CAST(ts AS DATE)) AS INT), 1, 1)
                                 AS TIMESTAMP) AS date_key
            FROM events
        )
        SELECT date_key,
               CAST(year(date_key) AS INT) AS year,
               CAST(month(date_key) AS INT) AS month,
               CAST(date_part('dow', date_key) AS INT) AS dow,
               date_part('dow', date_key) IN (0, 6) AS is_weekend
        FROM cal
    """,
    "dim_country": """
        SELECT 'USA' AS country_key, 'United States' AS country_name,
               'USA' AS country_code
    """,
    "dim_entity": """
        SELECT md5(entity_name) AS entity_key, entity_name,
               upper(entity_name) AS entity_code
        FROM (SELECT DISTINCT event_type AS entity_name FROM events)
    """,
    "fact_build": f"""
        WITH {DAILY_BARS_SQL}, {DAILY_RETURN_SQL}, {_VOL}, {_ANNUAL}
        SELECT v.date AS date_key,
               md5(v.series_key) AS entity_key,
               v.series_key AS entity_name,
               v.open, v.high, v.low, v.close, v.volume,
               v.daily_return, v.volatility,
               a.annual_avg_value, a.annual_value_dispersion
        FROM vol v
        LEFT JOIN annual a ON CAST(year(v.date) AS INT) = a.year
    """,
    "daily_return": f"""
        WITH {DAILY_BARS_SQL}, {DAILY_RETURN_SQL}
        SELECT series_key, date, close, daily_return FROM ret
    """,
    "log_return": f"""
        WITH {DAILY_BARS_SQL}
        SELECT series_key, date, close,
               round(ln(close / nullif(lag(close) OVER w, 0)), 6) AS log_return
        FROM bars
        WINDOW w AS (PARTITION BY series_key ORDER BY date)
    """,
    "rolling_volatility": f"""
        WITH {DAILY_BARS_SQL}, {DAILY_RETURN_SQL}, {_VOL}
        SELECT series_key, date, daily_return, volatility FROM vol
    """,
    "filter_range": f"""
        WITH filtered AS (
            SELECT * FROM events
            WHERE event_type = 'click'
              AND CAST(ts AS DATE) >= DATE '2024-01-10'
              AND CAST(ts AS DATE) <= DATE '2024-01-20'
        ),
        bars AS (
            SELECT event_type AS series_key, date_trunc('day', ts) AS date,
                   arg_max(value, ts) AS close
            FROM filtered GROUP BY 1, 2
        )
        SELECT series_key, date, close,
               round((close - lag(close) OVER w) / nullif(lag(close) OVER w, 0), 6) AS daily_return
        FROM bars
        WINDOW w AS (PARTITION BY series_key ORDER BY date)
        ORDER BY date
    """,
    "annual_join": f"""
        WITH {DAILY_BARS_SQL}, {_ANNUAL}
        SELECT b.series_key, b.date, b.close,
               a.annual_avg_value, a.annual_value_dispersion
        FROM bars b
        LEFT JOIN annual a ON CAST(year(b.date) AS INT) = a.year
    """,
    "ohlc_daily": f"""
        WITH {DAILY_BARS_SQL}
        SELECT * FROM bars
    """,
    "sma_cross": f"""
        WITH {DAILY_BARS_SQL}
        SELECT series_key, date, close,
               round(avg(close) OVER w5, 6) AS sma_5,
               round(avg(close) OVER w20, 6) AS sma_20,
               round(avg(close) OVER w5, 6) > round(avg(close) OVER w20, 6) AS golden_cross
        FROM bars
        WINDOW w5 AS (PARTITION BY series_key ORDER BY date
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
               w20 AS (PARTITION BY series_key ORDER BY date
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
    "cumulative_return": f"""
        WITH {DAILY_BARS_SQL}, {DAILY_RETURN_SQL}
        SELECT series_key, date, daily_return,
               round(CASE WHEN max(CASE WHEN coalesce(daily_return, 0.0) <= -1.0
                                        THEN 1 ELSE 0 END) OVER wc = 1
                          THEN -1.0
                          ELSE exp(sum(ln(1.0 + coalesce(daily_return, 0.0))) OVER wc) - 1.0
                     END, 6) AS cum_return
        FROM ret
        WINDOW wc AS (PARTITION BY series_key ORDER BY date
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "drawdown": f"""
        WITH {DAILY_BARS_SQL}
        SELECT series_key, date, close,
               round((close - max(close) OVER wm) / nullif(max(close) OVER wm, 0), 6)
                   AS drawdown
        FROM bars
        WINDOW wm AS (PARTITION BY series_key ORDER BY date
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "bollinger": f"""
        WITH {DAILY_BARS_SQL}
        SELECT series_key, date, close,
               round(avg(close) OVER w20, 6) AS bb_mid,
               round(avg(close) OVER w20
                     + 2.0 * (CASE WHEN count(close) OVER w20 >= 20
                                   THEN stddev_samp(close) OVER w20 END), 6) AS bb_upper,
               round(avg(close) OVER w20
                     - 2.0 * (CASE WHEN count(close) OVER w20 >= 20
                                   THEN stddev_samp(close) OVER w20 END), 6) AS bb_lower
        FROM bars
        WINDOW w20 AS (PARTITION BY series_key ORDER BY date
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
    "rsi": f"""
        WITH {DAILY_BARS_SQL},
        d AS (
            SELECT series_key, date, close,
                   close - lag(close) OVER (PARTITION BY series_key ORDER BY date) AS delta
            FROM bars
        )
        SELECT series_key, date, close,
               round(CASE WHEN count(delta) OVER w14 >= 14 THEN
                   CASE WHEN avg(CASE WHEN delta < 0 THEN -delta ELSE 0.0 END) OVER w14 = 0
                        THEN 100.0
                        ELSE 100.0 - 100.0 /
                             (1.0 + avg(CASE WHEN delta > 0 THEN delta ELSE 0.0 END) OVER w14
                                  / avg(CASE WHEN delta < 0 THEN -delta ELSE 0.0 END) OVER w14)
                   END END, 6) AS rsi
        FROM d
        WINDOW w14 AS (PARTITION BY series_key ORDER BY date
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    """,
    "incremental_watermark": """
        SELECT event_type AS series_key, max(ts) AS high_watermark,
               count(*) AS n_rows
        FROM events GROUP BY 1
    """,
    "adj_close_returns": f"""
        WITH {DAILY_BARS_SQL},
        adjb AS (
            SELECT series_key, date, close,
                   close * CASE WHEN date < TIMESTAMP '2024-01-15'
                                THEN 0.5 ELSE 1.0 END AS adj_close
            FROM bars
        ),
        r AS (
            SELECT series_key, date, adj_close,
                   round((adj_close - lag(adj_close) OVER w)
                         / nullif(lag(adj_close) OVER w, 0), 6) AS adj_return,
                   round((close - lag(close) OVER w)
                         / nullif(lag(close) OVER w, 0), 6) AS raw_return
            FROM adjb
            WINDOW w AS (PARTITION BY series_key ORDER BY date)
        )
        SELECT series_key, date, adj_close, adj_return, raw_return,
               coalesce(round(raw_return - adj_return, 6) <> 0.0, FALSE)
                   AS split_artifact
        FROM r
    """,
}
