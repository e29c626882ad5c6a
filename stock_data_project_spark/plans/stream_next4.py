"""Streaming keys built in r7, staged for the r8 driver window.

- ``stream_late_data`` — the watermark's late-data discard made
  observable: the streaming twin of ``scd2_late_gate``'s admission
  ledger. A deterministic 3-drop delivery reorders the events table
  (every ``_SLD_MOD``-th event of the first time-third is withheld
  until the final drop, arriving ~20 days late against a 2-hour
  watermark); ONE long-lived watermarked hourly tumbling-count query
  consumes the drops as one micro-batch each
  (``streaming/feeder.feed_drops``), and
  the graded output is the append-mode sink itself — the finalized
  windows WITH the late rows excluded by the engine's state gate.

  Why the sink and not ``numRowsDroppedByWatermark``: the progress
  metric counts rows entering the STATE operator, i.e. post
  map-side-partial-aggregation rows — at sf0.1 the 1,449 late input
  rows collapse to 240 partials (one per late hour window) before
  the gate, so the metric is partial-layout-dependent and NOT
  oracle-able. The sink contents ARE input-row-deterministic: a
  window whose end ≤ watermark has its entire (partial) update
  discarded, so each window's final count is exactly the on-time
  arrivals — independent of how partials combined.

  Fully oracled: DuckDB replays the engine's recurrence — the
  watermark entering drop k is max(event ts over drops < k) − delay
  (committed by the trailing no-data batch of each
  ``processAllAvailable``), a row is admitted iff its hour-window
  end > that watermark, and a window is emitted iff its end ≤ the
  final watermark. Verified row-exact at sf0.01 AND sf0.1 in the r7
  prototype (717 windows, 9,806 / 98,149 admitted rows — engine ==
  oracle under both <= and < emission, which are indistinguishable
  because window ends are exact hours while the watermark inherits
  the max event's sub-second offset).

  Scale shape: the observable IS production behavior — state is
  bounded by open windows (late partials never enter it, closed
  windows are evicted on emission), and the drop harness
  materializes temp files deleted before returning (output is
  literal sink data with no lineage into them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_data_project_spark.catalog import load_table
from stock_data_project_spark.streaming.feeder import feed_drops

_SLD_MOD = 23
_SLD_DELAY = "2 hours"
_SLD_DELAY_SQL = "INTERVAL 2 HOUR"


def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    n = ev.agg(F.max("event_id")).collect()[0][0] + 1
    b1, b2 = n // 3, 2 * n // 3
    drop_of = (
        F.when(
            (F.col("event_id") < b1) & (F.col("event_id") % _SLD_MOD == 0), 2
        )
        .when(F.col("event_id") < b1, 0)
        .when(F.col("event_id") < b2, 1)
        .otherwise(2)
    )

    def writer(stream):
        agg = (
            stream.withWatermark("ts", _SLD_DELAY)
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return agg.writeStream.outputMode("append").format("memory").queryName(
            "stream_late_data"
        )

    feed_drops(ev, 3, writer, drop_of=drop_of)
    # literal data out of the sink (the temp inputs are deleted, so no
    # lineage may reach them)
    rows = [
        (r["win"]["start"], int(r["n"]))
        for r in spark.table("stream_late_data").collect()
    ]
    return spark.createDataFrame(rows, "window_start timestamp, n long")


QUERIES_NEXT = {"stream_late_data": stream_late_data}

ORACLE_NEXT = {
    # replay of the engine's watermark recurrence (module doc): the
    # modulus / delay literals are interpolated from the SAME
    # constants the Spark side uses.
    "stream_late_data": f"""
        WITH params AS (
            SELECT max(event_id) + 1 AS n FROM events
        ),
        tagged AS (
            SELECT event_id, ts,
                   CASE WHEN event_id < n // 3
                             AND event_id % {_SLD_MOD} = 0 THEN 2
                        WHEN event_id < n // 3 THEN 0
                        WHEN event_id < 2 * n // 3 THEN 1
                        ELSE 2 END AS drop_id
            FROM events, params
        ),
        wm AS (
            SELECT drop_id,
                   max(max(ts) - {_SLD_DELAY_SQL}) OVER (
                       ORDER BY drop_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS wm_prev
            FROM tagged GROUP BY drop_id
        ),
        fwm AS (
            SELECT max(ts) - {_SLD_DELAY_SQL} AS final_wm FROM tagged
        ),
        admitted AS (
            SELECT t.ts
            FROM tagged t JOIN wm USING (drop_id)
            WHERE wm.wm_prev IS NULL
               OR date_trunc('hour', t.ts) + INTERVAL 1 HOUR > wm.wm_prev
        )
        SELECT date_trunc('hour', ts) AS window_start,
               count(*) AS n
        FROM admitted, fwm
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= final_wm
        GROUP BY 1
    """,
}
