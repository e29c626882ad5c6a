"""Streaming key built in r6 for the r7 driver window.

``stream_quantile`` is the live twin of quantile_rollup: a streaming
per-(type, bin) histogram aggregation with state bounded at
types × 512 rows on any input volume, finished by the shared
deterministic estimator (operators/sketches.histogram_quantiles).
Fully oracled with quantile_rollup's OWN oracle — the driver row is
the streaming-equals-batch theorem for sketch aggregation.
"""

from __future__ import annotations

from stock_data_project_spark.plans.olap import ORACLE as _OLAP_ORACLE
from stock_data_project_spark.streaming.pipeline import stream_quantile

QUERIES_NEXT = {
    "stream_quantile": stream_quantile,
}

ORACLE_NEXT = {
    "stream_quantile": _OLAP_ORACLE["quantile_rollup"],
}
