"""Spark-SQL-API plans: the engine's SQL surface.

The reference's whole transform layer is SQL strings against DuckDB
(fetch_stocks.py:165-241); these plans run through
``catalog.register_views`` + ``spark.sql`` to prove the same text
interface works here — Catalyst produces the same physical plans as
the DataFrame API, so this is a surface guarantee, not a separate
engine path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from stock_data_project_spark.catalog import register_views


def q_sql_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by market segment and order year, in pure SQL."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_mktsegment,
               year(o_orderdate) AS order_year,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, year(o_orderdate)
        """
    )


def q_sql_star_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Streamlit chart query (app.py:90, 106-110) in SQL over the
    star views: per-day close for one series with calendar attrs."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT date, close, year(date) AS year, month(date) AS month
        FROM (
            SELECT date_trunc('day', ts) AS date, max_by(value, ts) AS close
            FROM events
            WHERE event_type = 'purchase'
            GROUP BY date_trunc('day', ts)
        )
        ORDER BY date
        """
    )


def q_sql_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders priced above the global average (the
    subquery becomes a broadcast scalar in the plan)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders)
        """
    )


QUERIES = {
    "sql_segment_revenue": q_sql_segment_revenue,
    "sql_star_query": q_sql_star_query,
    "sql_above_avg_orders": q_sql_above_avg_orders,
}

ORACLE = {
    "sql_above_avg_orders": """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders)
    """,
    "sql_segment_revenue": """
        SELECT c_mktsegment,
               CAST(year(o_orderdate) AS INT) AS order_year,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, year(o_orderdate)
    """,
    "sql_star_query": """
        SELECT date, close,
               CAST(year(date) AS INT) AS year,
               CAST(month(date) AS INT) AS month
        FROM (
            SELECT date_trunc('day', ts) AS date, max_by(value, ts) AS close
            FROM events
            WHERE event_type = 'purchase'
            GROUP BY date_trunc('day', ts)
        )
        ORDER BY date
    """,
}


_DECAYED_SQL = """
    WITH RECURSIVE m AS (
        SELECT event_type,
               date_trunc('day', ts) AS day_start,
               CAST(round(sum(value), 6) AS DECIMAL(18,6)) AS revenue
        FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
    ), seq AS (
        SELECT event_type, day_start, revenue,
               CAST(row_number() OVER (PARTITION BY event_type
                                       ORDER BY day_start) AS INT) AS rn
        FROM m
    ), rec(event_type, day_start, rn, decayed) AS (
        SELECT event_type, day_start, rn, revenue FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.event_type, s.day_start, s.rn,
               CAST(round(r.decayed * CAST(0.9 AS DECIMAL(2,1))
                          + s.revenue, 6) AS DECIMAL(18,6))
        FROM rec r JOIN seq s
          ON s.event_type = r.event_type AND s.rn = r.rn + 1
    )
    SELECT event_type, day_start, rn,
           CAST(decayed AS DOUBLE) AS decayed
    FROM rec
"""


def q_sql_decayed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed daily revenue: carry' = round(0.9·carry
    + day_revenue, 6) in DECIMAL(18,6) — an EMA-class recurrence
    plain window frames cannot express, run as ONE grouped
    Arrow-batched fold (applyInPandas over event_type; exact
    decimal.Decimal arithmetic replicates the engines' DECIMAL
    semantics step for step, so the key stays FULLY oracled).

    The oracle (and the Spark recursive-CTE surface pinned in
    tests/test_next3_staged.py) is the WITH RECURSIVE formulation —
    but the r6 bench showed Spark's UnionLoop schedules one join JOB
    per recursion step (= per day: 30 steps → 15.7s of scheduling
    floor at sf0.1, and depth grows with the calendar, not the data).
    The grouped fold is the scale plan: one shuffle on event_type,
    O(days) sequential decimal work per group, embarrassingly
    parallel across groups (15.7s → ~0.6s). Per-step rounding keeps
    the trajectory engine-deterministic (the q9/user_influence
    DECIMAL rule made iterative)."""
    from decimal import Decimal

    import pandas as pd

    from pyspark.sql import functions as F

    from stock_data_project_spark.operators.rounding import quantize6

    register_views(spark, sf_dir)
    daily = spark.sql(
        """
        SELECT event_type, day_start,
               revenue,
               CAST(row_number() OVER (PARTITION BY event_type
                                       ORDER BY day_start) AS INT) AS rn
        FROM (
            SELECT event_type,
                   date_trunc('day', ts) AS day_start,
                   CAST(round(sum(value), 6) AS DECIMAL(18,6)) AS revenue
            FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
        )
        """
    )
    nine = Decimal("0.9")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn")
        carry = None
        out = []
        for rev in pdf["revenue"]:  # arrives as decimal.Decimal
            carry = (
                rev
                if carry is None
                # exact decimal arithmetic, half-up like both engines'
                # DECIMAL round — the rounding input is identical, so
                # the rounded trajectory is too
                else quantize6(carry * nine + rev)
            )
            out.append(carry)
        return pdf.assign(decayed=out)[["event_type", "day_start", "rn", "decayed"]]

    folded = daily.groupBy("event_type").applyInPandas(
        fold,
        "event_type string, day_start timestamp, rn int, decayed decimal(18,6)",
    )
    return folded.select(
        "event_type",
        "day_start",
        "rn",
        F.col("decayed").cast("double").alias("decayed"),
    )


QUERIES["sql_decayed_revenue"] = q_sql_decayed_revenue
ORACLE["sql_decayed_revenue"] = _DECAYED_SQL
