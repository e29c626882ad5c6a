"""Streaming keys built in r8 (late batch), staged for the r9 window.

- ``stream_sliding_avg`` — HOPPING-window aggregate (size 2h, hop
  30min): the overlapping-window shape the tumbling keys don't
  cover. Each event lands in size/hop = 4 open windows, so the state
  store carries 4× the tumbling window count — still bounded by
  (open horizon / hop). Averages are NOT accumulated in float: the
  streaming agg carries count + DECIMAL(18,6) sum (summation-order-
  free across micro-batches), and the average is one double division
  at read-out — the q9 rule applied to streaming state. Append mode;
  watermark delay 47min is deliberately not a multiple of the 30min
  hop (window ends sit on hop boundaries; a non-multiple delay on a
  raw-microsecond watermark column makes exact ties measure-zero —
  the stream_distinct_users tie rule).

- ``stream_funnel_state`` — arbitrary stateful funnel via
  ``applyInPandasWithState``: per-user view→click→purchase stage
  machine carried across micro-batches (state = (stage, anchor_us,
  updates), O(1) per user). The advance rule — stage k+1 on the
  first matching event with ts STRICTLY after the stage-k anchor —
  makes the machine equal to the min-ts chain t1 = min(view ts),
  t2 = min(click ts > t1), t3 = min(purchase ts > t2), which is
  plain SQL: the key is FULLY ORACLED despite being an imperative
  stateful operator. Strict-> comparisons also make the result
  invariant to the processing order of equal-ts events (the only
  rows whose cross-batch order the ts-ordered feed doesn't pin).

Harness (both keys): ``streaming/feeder.feed_drops`` splits the
events table into 4 event-time-ordered drops (ntile over ts,
persisted before branching per the range-exchange rule) consumed
one micro-batch each — an in-order feed, so no row is ever late and
the only engine recurrence the oracle must replay is the
final-watermark cut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stock_data_project_spark.catalog import load_table
from stock_data_project_spark.operators.rounding import exact_avg6_expr, exact_avg6_sql
from stock_data_project_spark.streaming.feeder import feed_drops

_DROPS = 4
_SLIDE_DELAY = "47 minutes"
_SLIDE_DELAY_SQL = "INTERVAL 47 MINUTE"
_HOP_US = 1_800_000_000  # 30 minutes


def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("ts", "value")

    def writer(stream):
        agg = (
            stream.withWatermark("ts", _SLIDE_DELAY)
            .groupBy(F.window("ts", "2 hours", "30 minutes").alias("win"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.count("value").alias("_nv"),
                F.sum(F.col("value").cast("decimal(18,6)")).alias("_sum_d"),
            )
        )
        return agg.writeStream.outputMode("append").format("memory").queryName(
            "stream_sliding_avg"
        )

    feed_drops(ev, _DROPS, writer)
    rows = [
        (r["win"]["start"], int(r["n_events"]), int(r["_nv"]), r["_sum_d"])
        for r in spark.table("stream_sliding_avg").collect()
    ]
    out = spark.createDataFrame(
        rows, "window_start timestamp, n_events long, _nv long, _sum_d decimal(18,6)"
    )
    # round(sum/n, 6) computed in EXACT integer arithmetic: a 6dp
    # decimal sum divided by a count lands exactly on the 5e-7 tie
    # whenever the count is a power of two (measured: 3 of 549
    # windows at sf0.01), where Spark's BigDecimal round and DuckDB's
    # double round disagree. operators/rounding.exact_avg6_expr is
    # the SIGN-SAFE form (negates before the integral divide, so
    # Spark's truncating `div` == DuckDB's flooring `//`): events.value
    # happens to be non-negative in current testdata but that is not a
    # pinned invariant (r8 ADVICE). Bounds: sums ≤ 1e9 → 2·units fits.
    withu = out.withColumn("_units", (F.col("_sum_d") * 1000000).cast("long"))
    return withu.select(
        "window_start",
        "n_events",
        F.when(F.col("_nv") > 0, exact_avg6_expr("_units", "_nv")).alias(
            "avg_value"
        ),
    )


_SLIDE_AVG_EXPR = exact_avg6_sql(
    "CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)",
    "count(value)",
)

_SLIDING_SQL = f"""
    WITH fw AS (
        SELECT max(ts) - {_SLIDE_DELAY_SQL} AS final_wm FROM events
    ), ex AS (
        SELECT make_timestamp((epoch_us(ts) // {_HOP_US}) * {_HOP_US}
                              - CAST(k.k AS BIGINT) * {_HOP_US}) AS window_start,
               value
        FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) k
    )
    SELECT window_start,
           count(*) AS n_events,
           CASE WHEN count(value) > 0 THEN
               {_SLIDE_AVG_EXPR}
           END AS avg_value
    FROM ex, fw
    WHERE window_start + INTERVAL 2 HOUR <= final_wm
    GROUP BY window_start
"""


_FUNNEL_STAGES = ("view", "click", "purchase")


def stream_funnel_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    ev = ev.filter(F.col("event_type").isin(*_FUNNEL_STAGES))

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        stage, anchor_us, updates = state.get if state.exists else (0, None, 0)
        chunks = list(pdfs)
        if chunks:
            batch = pd.concat(chunks).sort_values(["ts", "event_id"])
            for ts, et in zip(batch["ts"], batch["event_type"]):
                t_us = ts.value // 1000
                if stage == 0 and et == "view":
                    stage, anchor_us = 1, t_us
                elif stage == 1 and et == "click" and t_us > anchor_us:
                    stage, anchor_us = 2, t_us
                elif stage == 2 and et == "purchase" and t_us > anchor_us:
                    stage, anchor_us = 3, t_us
        updates += 1
        state.update((stage, anchor_us, updates))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "funnel_stage": [stage],
                "stage_ts": [
                    None if anchor_us is None else pd.Timestamp(anchor_us * 1000)
                ],
                "updates": [updates],
            }
        )

    def writer(stream):
        out = stream.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, funnel_stage int, stage_ts timestamp, updates long"
            ),
            stateStructType="stage int, anchor_us long, updates long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return out.writeStream.outputMode("update").format("memory").queryName(
            "stream_funnel_state"
        )

    feed_drops(ev, _DROPS, writer)
    # update-mode sink appends one row per (user, batch-seen); the
    # final state is the row with the highest update counter
    w = Window.partitionBy("user_id").orderBy(F.desc("updates"))
    final = (
        spark.table("stream_funnel_state")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "funnel_stage", "stage_ts")
    )
    rows = [
        (int(r["user_id"]), int(r["funnel_stage"]), r["stage_ts"])
        for r in final.collect()
    ]
    return spark.createDataFrame(
        rows, "user_id long, funnel_stage int, stage_ts timestamp"
    )


_FUNNEL_SQL = """
    WITH f AS (
        SELECT user_id, ts, event_type FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
    ), s1 AS (
        SELECT user_id, min(ts) AS t1 FROM f
        WHERE event_type = 'view' GROUP BY 1
    ), s2 AS (
        SELECT f.user_id, min(ts) AS t2 FROM f JOIN s1 USING (user_id)
        WHERE event_type = 'click' AND ts > t1 GROUP BY 1
    ), s3 AS (
        SELECT f.user_id, min(ts) AS t3 FROM f JOIN s2 USING (user_id)
        WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1
    )
    SELECT u.user_id,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     WHEN t1 IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS funnel_stage,
           coalesce(t3, t2, t1) AS stage_ts
    FROM (SELECT DISTINCT user_id FROM f) u
    LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
"""


QUERIES_NEXT = {
    "stream_sliding_avg": stream_sliding_avg,
    "stream_funnel_state": stream_funnel_state,
}

ORACLE_NEXT = {
    "stream_sliding_avg": _SLIDING_SQL,
    "stream_funnel_state": _FUNNEL_SQL,
}
