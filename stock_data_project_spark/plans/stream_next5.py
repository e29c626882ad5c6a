"""Streaming keys built in r8, staged for the r9 driver window.

- ``stream_distinct_users`` — CHAINED stateful operators (the Spark
  3.4+ multi-stateful pipeline shape): watermarked streaming
  deduplication on (user_id, hour) feeding a windowed count — i.e.
  exact DISTINCT-per-window computed incrementally, the streaming
  twin of ``hourly_profile``'s distinct-user rollup. Distinct state
  is bounded by (open hours × users-per-hour) and evicted by the
  watermark; the count state by open windows — both production
  bounds.

  Harness: the events table is split into 4 event-time-ordered drops
  (ntile over ts — harness-only global sort, not the production
  path) consumed one micro-batch each; an IN-ORDER feed means no
  row is ever late (every batch's timestamps sit at or above the
  previous batch's max, so window ends always exceed the committed
  watermark), which leaves exactly ONE engine recurrence to replay:
  a window [h, h+1) is emitted iff h+1h ≤ final watermark =
  max(hour(ts)) − 90min. The 90-minute delay is deliberately NOT a
  multiple of the window so the watermark can never TIE a window
  end (ties would make emission depend on the engine's ≤-vs-<
  choice — the stream_late_data tie lesson applied at design time).

  Fully oracled: DuckDB computes DISTINCT (hour, user) counts and
  applies the same final-watermark cut. Engine output verified
  row-exact against the recurrence at sf0.01 AND sf0.1 in the r8
  prototype (717 windows each).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_data_project_spark.catalog import load_table
from stock_data_project_spark.streaming.feeder import feed_drops

_SDU_DELAY = "90 minutes"
_SDU_DELAY_SQL = "INTERVAL 90 MINUTE"
_SDU_DROPS = 4


def stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")

    def writer(stream):
        dedup = (
            stream.withColumn("win_start", F.date_trunc("hour", F.col("ts")))
            .withWatermark("win_start", _SDU_DELAY)
            .dropDuplicates(["user_id", "win_start"])
        )
        agg = dedup.groupBy(F.window("win_start", "1 hour").alias("win")).agg(
            F.count(F.lit(1)).alias("n_users")
        )
        return agg.writeStream.outputMode("append").format("memory").queryName(
            "stream_distinct_users"
        )

    feed_drops(ev, _SDU_DROPS, writer)
    rows = [
        (r["win"]["start"], int(r["n_users"]))
        for r in spark.table("stream_distinct_users").collect()
    ]
    return spark.createDataFrame(rows, "window_start timestamp, n_users long")


QUERIES_NEXT = {"stream_distinct_users": stream_distinct_users}

ORACLE_NEXT = {
    "stream_distinct_users": f"""
        WITH fw AS (
            SELECT max(date_trunc('hour', ts)) - {_SDU_DELAY_SQL} AS final_wm
            FROM events
        ),
        d AS (
            SELECT DISTINCT date_trunc('hour', ts) AS window_start, user_id
            FROM events
        )
        SELECT window_start, count(*) AS n_users
        FROM d, fw
        WHERE window_start + INTERVAL 1 HOUR <= final_wm
        GROUP BY 1
    """,
}
