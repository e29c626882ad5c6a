"""Streaming key built in r5 for the r6 driver window.

``stream_anomaly`` closes the monitoring loop the batch side already
grades (zscore_anomaly): the same z-score gate running on the live
engine against a static per-type profile — stream-static broadcast
join + watermarked hourly rollup (streaming/pipeline.py
stream_anomaly_counts has the scale notes). Registered immediately
(r5 rule); parity-proven by tests/test_next2_staged.py.
"""

from __future__ import annotations

from stock_data_project_spark.streaming.pipeline import (
    stream_anomaly_counts,
    stream_scd2_dim,
    stream_scd2_late_gate,
)

QUERIES_NEXT = {
    "stream_anomaly": stream_anomaly_counts,
    "stream_scd2": stream_scd2_dim,
    "scd2_late_gate": stream_scd2_late_gate,
}

# profile mean/std rounded 6dp on both sides; z reads the rounded
# profile; the verdict compares the ROUNDED z (engine-stable)
ORACLE_NEXT = {
    "stream_anomaly": """
        WITH profile AS (
            SELECT event_type,
                   round(avg(value), 6) AS p_mean,
                   round(stddev_samp(value), 6) AS p_std
            FROM events GROUP BY event_type
        )
        SELECT time_bucket(INTERVAL '1 hour', e.ts) AS window_start,
               e.event_type,
               count(*) AS n_events,
               CAST(sum(CASE WHEN abs(round((e.value - p.p_mean)
                                            / nullif(p.p_std, 0.0), 6)) > 3.0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        FROM events e JOIN profile p USING (event_type)
        GROUP BY 1, 2
    """,
}

# the incremental maintainer's contract IS equality with the batch
# build, so its oracle is scd2_dim's own oracle verbatim
from stock_data_project_spark.plans.olap import ORACLE as _OLAP_ORACLE  # noqa: E402

ORACLE_NEXT["stream_scd2"] = _OLAP_ORACLE["scd2_dim"]

# scd2_late_gate: "quarantined" = ts earlier than the user's max ts
# over strictly-earlier drops (RANGE ... 1 PRECEDING excludes the
# current drop: the gate checks a batch against COMMITTED state, so
# same-drop events never late-flag each other). Quarantined events
# sit below the watermark by definition and so never advance it —
# max-over-admitted == max-over-delivered, making the window over
# all delivered events exact. epoch_us per the ts-comparison rule;
# // is floor division in both engines' integer domains. The late
# modulus is interpolated from the implementation's constant so the
# two can never silently desynchronize.
from stock_data_project_spark.streaming.pipeline import (  # noqa: E402
    _LATE_MOD,
)

ORACLE_NEXT["scd2_late_gate"] = f"""
    WITH nn AS (SELECT max(event_id) + 1 AS n FROM events),
    delivered AS (
        SELECT user_id, ts,
               CASE WHEN event_id < (n // 3)
                         AND event_id % {_LATE_MOD} = 0 THEN 2
                    WHEN event_id < (n // 3) THEN 0
                    WHEN event_id < ((2 * n) // 3) THEN 1
                    ELSE 2 END AS drop_id
        FROM events, nn
    ),
    flagged AS (
        SELECT drop_id,
               CASE WHEN max(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY drop_id
                        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) > epoch_us(ts)
                    THEN 1 ELSE 0 END AS is_late
        FROM delivered
    )
    SELECT CAST(drop_id AS INT) AS drop_id,
           count(*) AS n_delivered,
           CAST(sum(1 - is_late) AS BIGINT) AS n_admitted,
           CAST(sum(is_late) AS BIGINT) AS n_quarantined
    FROM flagged GROUP BY drop_id
"""
