"""Streaming key staged for the r5 driver window.

Same staging discipline as plans/llm_next.py: the r4
window is exactly full, so ``stream_ohlc_bars`` debuts in r5's
``_GRADE_ORDER`` head, parity-proven NOW by tests/test_stream_next.py.

``stream_ohlc_bars`` closes the loop between the streaming family and
the reference's core artifact: the OHLCV bar build (fetch_stocks.py
ingests daily bars; operators/series.daily_bars re-derives them in
batch) running continuously on the live engine — watermarked hourly
tumbling windows with min_by/max_by open/close.
"""

from __future__ import annotations

from stock_data_project_spark.streaming.pipeline import (
    stream_ohlc_bars,
    stream_top_event_types,
)

QUERIES_NEXT = {
    "stream_ohlc_bars": stream_ohlc_bars,
    "stream_topk": stream_top_event_types,
}

# epoch_us-free: time_bucket on DuckDB's TIMESTAMP_NS truncates to the
# same hour boundaries as Spark's window() under the UTC session zone
ORACLE_NEXT = {
    "stream_ohlc_bars": """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS bar_start,
               event_type AS series_key,
               arg_min(value, ts) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, ts) AS close,
               count(*) AS volume,
               round(sum(value), 6) AS turnover
        FROM events
        GROUP BY 1, 2
    """,
    "stream_topk": """
        SELECT window_start, event_type, n,
               CAST(rank AS INT) AS rank
        FROM (
            SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   event_type, count(*) AS n,
                   row_number() OVER (
                       PARTITION BY time_bucket(INTERVAL '1 hour', ts)
                       ORDER BY count(*) DESC, event_type
                   ) AS rank
            FROM events
            GROUP BY 1, 2
        )
        WHERE rank <= 3
    """,
}
