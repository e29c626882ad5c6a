"""r11 build, r12 debut: the incremental-star upsert GRADED.

``stream_incremental_star`` was the registry's one side-effecting §2
row (foreachBatch parquet upsert — no DataFrame to hand the driver).
The r10 verdict asked for its observable to be graded: run the real
streaming pipeline (``streaming/pipeline.run_incremental_star``, an
availableNow query committing through ``sources/commit.py``) into a
process-scoped scratch dir, then return the COMMITTED
fact table. Because the upsert's merge state is associative and the
replay guard makes redeliveries no-ops, the committed table equals
the batch daily bars exactly — so the key is FULLY oracled against
the same ``_BARS`` SQL shape the batch keys use (turnover excluded:
its cross-batch sum order differs from the oracle's single-pass sum,
the one non-associative-at-6dp column; open/close are deterministic
because testdata ts is unique per (event_type, ts) — probed r11).

Scale: the per-batch work is one groupBy rollup + one merge groupBy
over the committed table — at 100 TB the read-merge-rewrite becomes
a table format's MERGE/snapshot commit (documented seam in
sources/commit.py); the graded observable is unchanged by that swap.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from stock_data_project_spark.streaming.pipeline import run_incremental_star


def q_stream_incremental_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tmp = tempfile.gettempdir()
    out = os.path.join(tmp, f"spark_graft_incr_star_{tag}_{os.getpid()}")
    # sweep stale scratch dirs left by OTHER pids (ADVICE r11: the
    # same-pid rmtree below never reclaims them, so checkpoint + two
    # kept fact dirs per process accumulated indefinitely). Only
    # reclaim dirs whose owning pid is DEAD (r12 ADVICE: bench.py
    # alongside pytest is a real concurrency mode here — an
    # unconditional sweep would rip a live sibling's streaming
    # checkpoint out mid-query)
    for d in os.listdir(tmp):
        if not d.startswith("spark_graft_incr_star_") or d == os.path.basename(out):
            continue
        try:
            owner = int(d.rsplit("_", 1)[-1])
            os.kill(owner, 0)  # raises if the pid is gone
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(tmp, d), ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another uid — leave it
    # fresh run every call: stale state from a different testdata
    # generation must never leak into the graded observable
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    run_incremental_star(spark, sf_dir, out)
    fact = spark.read.parquet(os.path.join(out, "fact_bars"))
    return fact.select(
        "series_key", "date", "open", "high", "low", "close", "volume"
    )


QUERIES_NEXT = {
    "stream_incremental_star": q_stream_incremental_star,
}

ORACLE_NEXT = {
    "stream_incremental_star": """
        SELECT event_type AS series_key,
               date_trunc('day', ts) AS date,
               arg_min(value, ts) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, ts) AS close,
               count(*) AS volume
        FROM events
        GROUP BY 1, 2
    """,
}
