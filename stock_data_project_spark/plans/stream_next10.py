"""Streaming key built in r10 (late batch), staged for the r12
window.

``stream_chained_agg`` — MULTIPLE STATEFUL OPERATORS in one streaming
query (Spark 3.4+/4.x capability, SPARK-40925): a 5-minute tumbling
count per event_type feeding a second stateful aggregation that rolls
the finalized 5-minute buckets up to hourly (sum / bucket count /
max bucket), all in append mode with one watermark. This is the
streaming twin of a two-level rollup — the shape every metrics
pipeline wants (fine-grain pre-agg, coarse-grain serving) without a
second job or an intermediate topic.

Engine semantics the oracle replays (and why they reduce to one cut):
- the inner agg finalizes a 5-min bucket when the watermark passes
  its end; the bucket row enters the outer agg with event-time
  ``window_time`` = bucket end − 1µs, so it lands in the hour that
  CONTAINS the bucket (never the next one).
- late-record filtering for the outer agg uses the PREVIOUS batch's
  watermark (the SPARK-40925 delayed-propagation rule), and a bucket
  newly finalized at wm_k has end > wm_{k−1} — so its hour end is
  also > wm_{k−1} and the row is never dropped. With the harness's
  event-time-ordered drops no input row is ever late either, so the
  only recurrence left is the FINAL watermark cut on the outer
  windows: hour_end ≤ max(ts) − delay (≤ vs < indistinguishable —
  window ends are exact hours, the watermark inherits the max
  event's µs jitter; asserted in the staged tests).
- an emitted hour necessarily contains ALL its 5-min buckets (every
  bucket end ≤ hour end ≤ wm), so the rollup values are
  input-row-deterministic — the stream_late_data argument, one level
  up.

State is bounded by (open horizon / 5 min) bucket partials plus
(open horizon / 1 h) hourly partials per type — the production shape
for unbounded sources; no per-row state anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_data_project_spark.catalog import load_table
from stock_data_project_spark.streaming.feeder import feed_drops

_SCA_DELAY = "90 minutes"
_SCA_DELAY_SQL = "INTERVAL 90 MINUTE"
_SCA_BUCKET_US = 300_000_000  # 5 minutes
_SCA_HOUR_US = 3_600_000_000
_SCA_DROPS = 4  # event-time-ordered drops, one micro-batch each


def stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")

    def writer(stream):
        buckets = (
            stream.withWatermark("ts", _SCA_DELAY)
            .groupBy(F.window("ts", "5 minutes").alias("w5"), "event_type")
            .agg(F.count(F.lit(1)).alias("n5"))
        )
        hourly = buckets.groupBy(
            F.window(F.window_time("w5"), "1 hour").alias("wh"), "event_type"
        ).agg(
            F.sum("n5").alias("n_events"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("n5").alias("max_bucket"),
        )
        return hourly.writeStream.outputMode("append").format("memory").queryName(
            "stream_chained_agg"
        )

    feed_drops(ev, _SCA_DROPS, writer)
    rows = [
        (
            r["wh"]["start"],
            r["event_type"],
            int(r["n_events"]),
            int(r["n_buckets"]),
            int(r["max_bucket"]),
        )
        for r in spark.table("stream_chained_agg").collect()
    ]
    return spark.createDataFrame(
        rows,
        "window_start timestamp, event_type string, n_events long,"
        " n_buckets long, max_bucket long",
    )


QUERIES_NEXT = {"stream_chained_agg": stream_chained_agg}

ORACLE_NEXT = {
    # module doc: in-order feed → the only engine recurrence is the
    # final-watermark cut on the OUTER window; an emitted hour
    # contains all its buckets by construction.
    "stream_chained_agg": f"""
        WITH fw AS (
            SELECT max(ts) - {_SCA_DELAY_SQL} AS final_wm FROM events
        ),
        b AS (
            SELECT make_timestamp((epoch_us(ts) // {_SCA_BUCKET_US})
                                  * {_SCA_BUCKET_US}) AS bucket_start,
                   event_type, CAST(count(*) AS BIGINT) AS n5
            FROM events GROUP BY 1, 2
        )
        SELECT make_timestamp((epoch_us(bucket_start) // {_SCA_HOUR_US})
                              * {_SCA_HOUR_US}) AS window_start,
               event_type,
               CAST(sum(n5) AS BIGINT) AS n_events,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(max(n5) AS BIGINT) AS max_bucket
        FROM b, fw
        WHERE make_timestamp((epoch_us(bucket_start) // {_SCA_HOUR_US})
                             * {_SCA_HOUR_US}) + INTERVAL 1 HOUR <= final_wm
        GROUP BY 1, 2
    """,
}
