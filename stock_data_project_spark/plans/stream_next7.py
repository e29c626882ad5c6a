"""Streaming keys built in r9, staged for the r10 driver window.

- ``stream_dedup_watermark`` — bounded-state streaming dedup via
  ``dropDuplicatesWithinWatermark`` (Spark 3.5+ surface; the variant
  an UNBOUNDED ingest actually runs, r8 verdict item 3): unlike
  ``dropDuplicates``, state for a key is EVICTED once the watermark
  passes its first event's time + delay, so state size is bounded by
  the ids inside one delay horizon instead of growing forever.

  Engine semantics pinned by probe (r9, Spark 4.1) and replayed by
  the oracle:
    1. the LATE GATE runs first — a row whose event time < the
       batch-entry watermark is discarded regardless of dedup state;
    2. an on-time row whose key is in live state is dropped as a
       duplicate; a duplicate does NOT extend the state's expiration
       (fixed by the FIRST admitted event — probed via an evict-
       then-readmit sequence);
    3. eviction fires at expireAt ≤ wm (boundary inclusive — probed
       with an exact-equality expiry).
  For EXACT redeliveries (same id, same event time) — the
  exactly-once-ingest case this key models — rules 1-3 collapse to
  a clean recurrence: an id is admitted iff ANY of its arrivals is
  on time, exactly once, at its first arrival; an on-time replay
  always meets live state (expire = ts + delay ≥ wm + delay > wm),
  and an evicted key's same-ts replay is always late (eviction
  requires wm ≥ ts + delay > ts). The oracle is therefore
  DISTINCT-on-time-arrivals — no state simulation needed.

  Harness: 3 event-id-third drops (the stream_late_data recipe),
  with planted redeliveries — every 31st id of drop 0 duplicated
  WITHIN drop 0 (same-batch dedup), every 23rd id of drop 0 replayed
  in drop 1 and every 23rd id of drop 1 replayed in drop 2 (cross-
  batch: mostly late-gated, the recent tail state-dropped). Delay =
  119 minutes — a non-round value so an arrival ts can only tie the
  watermark (max_prev_ts − delay) by an exact 7,140.000000 s gap,
  absent at every SF (asserted in-repo; a tie would also fail the
  parity sweep loudly).

  The graded observable is the append sink aggregated to hourly
  admitted counts — input-row-deterministic (same-ts replays make
  within-batch processing order irrelevant). The STATE BOUND — the
  reason this operator exists — is asserted in-repo from the
  progress metrics, not graded (numRowsDroppedByWatermark and friends
  are partial-layout-dependent; the stream_late_data lesson).

  Scale: this is production shape end-to-end — state is the id set
  of one delay horizon, late rows never enter it, and the sink is
  what a downstream exactly-once consumer reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_data_project_spark.catalog import load_table
from stock_data_project_spark.streaming.feeder import feed_drops

_SDW_DELAY = "119 minutes"
_SDW_DELAY_SQL = "INTERVAL 119 MINUTE"
_SDW_SAME_MOD = 31  # within-drop-0 duplicate planting
_SDW_REPLAY_MOD = 23  # cross-drop replay planting


def _arrivals(spark: SparkSession, sf_dir: str):
    """(arrival frames per drop) with planted redeliveries; pure
    event_id arithmetic so the oracle replays the same feed."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    n = ev.agg(F.max("event_id")).collect()[0][0] + 1
    b1, b2 = n // 3, 2 * n // 3
    eid = F.col("event_id")
    third = F.when(eid < b1, 0).when(eid < b2, 1).otherwise(2)
    orig = ev.withColumn("_drop", third)
    dup0 = ev.filter((eid < b1) & (eid % _SDW_SAME_MOD == 0)).withColumn(
        "_drop", F.lit(0)
    )
    rep1 = ev.filter((eid < b1) & (eid % _SDW_REPLAY_MOD == 0)).withColumn(
        "_drop", F.lit(1)
    )
    rep2 = ev.filter(
        (eid >= b1) & (eid < b2) & (eid % _SDW_REPLAY_MOD == 0)
    ).withColumn("_drop", F.lit(2))
    return orig.unionAll(dup0).unionAll(rep1).unionAll(rep2)


def run_dedup_watermark(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_dedup_watermark"
):
    """Feed the 3-drop redelivery stream through ONE long-lived
    dropDuplicatesWithinWatermark query (``streaming/feeder.feed_drops``:
    each drop's trailing no-data batch commits its watermark);
    returns (admitted sink rows, the query's progress).
    Exposed separately from the graded key so tests can assert the
    state bound from the progress metrics."""

    def writer(stream):
        deduped = stream.withWatermark("ts", _SDW_DELAY).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        return deduped.writeStream.outputMode("append").format("memory").queryName(
            query_name
        )

    progress = feed_drops(
        _arrivals(spark, sf_dir), 3, writer, drop_of=F.col("_drop")
    )
    rows = [
        (int(r["event_id"]), r["ts"]) for r in spark.table(query_name).collect()
    ]
    return rows, progress


def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows, _ = run_dedup_watermark(spark, sf_dir)
    admitted = spark.createDataFrame(rows, "event_id long, ts timestamp")
    return admitted.groupBy(
        F.date_trunc("hour", "ts").alias("window_start")
    ).agg(F.count(F.lit(1)).alias("n_admitted"))


QUERIES_NEXT = {"stream_dedup_watermark": stream_dedup_watermark}

ORACLE_NEXT = {
    # replay of the pinned recurrence (module doc): an id is admitted
    # once iff any arrival's ts ≥ the watermark entering its drop
    # (wm = running max of prior drops' max ts − delay).
    "stream_dedup_watermark": f"""
        WITH params AS (
            SELECT max(event_id) + 1 AS n FROM events
        ),
        thirds AS (
            SELECT event_id, ts,
                   CASE WHEN event_id < n // 3 THEN 0
                        WHEN event_id < 2 * n // 3 THEN 1
                        ELSE 2 END AS drop_id
            FROM events, params
        ),
        arrivals AS (
            SELECT event_id, ts, drop_id FROM thirds
            UNION ALL
            SELECT event_id, ts, 0 FROM thirds
            WHERE drop_id = 0 AND event_id % {_SDW_SAME_MOD} = 0
            UNION ALL
            SELECT event_id, ts, 1 FROM thirds
            WHERE drop_id = 0 AND event_id % {_SDW_REPLAY_MOD} = 0
            UNION ALL
            SELECT event_id, ts, 2 FROM thirds
            WHERE drop_id = 1 AND event_id % {_SDW_REPLAY_MOD} = 0
        ),
        wm AS (
            SELECT drop_id,
                   max(max(ts) - {_SDW_DELAY_SQL}) OVER (
                       ORDER BY drop_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS wm_prev
            FROM arrivals GROUP BY drop_id
        ),
        admitted AS (
            SELECT DISTINCT a.event_id, a.ts
            FROM arrivals a JOIN wm USING (drop_id)
            WHERE wm.wm_prev IS NULL OR a.ts >= wm.wm_prev
        )
        SELECT date_trunc('hour', ts) AS window_start,
               count(*) AS n_admitted
        FROM admitted GROUP BY 1
    """,
}
