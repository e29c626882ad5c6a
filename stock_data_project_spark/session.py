"""SparkSession factory tuned for both local testing and cluster scale.

The reference runs single-node DuckDB (fetch_stocks.py:130); here the
session is configured so the same logical plans scale out: AQE for
runtime re-planning / skew handling, Arrow for any pandas exchange,
UTC session time zone so results are reproducible against a DuckDB
oracle, and shuffle partitions sized to the local core count (callers
on a real cluster override via ``extra_conf``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "stock_data_project_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    Local mode is one JVM; on a cluster the same conf holds except
    memory/master, which deployment supplies. AQE coalescing keeps
    the small-SF shuffles from over-parallelizing while letting the
    32-way (or cluster-width) parallelism stand at scale.
    """
    # read once so master width and shuffle partitions always agree
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # shuffle partitions = core count at test scale. A fixed count
        # IS a measured scale cliff — tpch_q5 at the 240× smoke (144M
        # lineitem rows) ran 98.8s with 32 shuffle partitions (4.5M-row
        # spilling partitions) vs 44.7s/32.7s at 128/256 — and AQE only
        # coalesces DOWN (never splits outside skew-join), so cluster
        # deployments must raise initialPartitionNum ∝ data volume via
        # extra_conf (tools/scale_smoke.py does exactly that per
        # replication factor). Raising the DEFAULT here was measured a
        # net loss at test scale: bench A/B 145.8s → 181.5s (median
        # per-key 1.13×) with initialPartitionNum=8×cores — the AQE
        # re-planning and task floor tax every small shuffle.
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        # delete reliable-checkpoint files (operators/ckpt.py) once
        # their RDD is garbage-collected; a context conf, ignored if
        # set on a running session
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # local mode runs all executor threads inside the driver JVM,
        # so this is the WHOLE heap: size it for the 32-way scale
        # smokes (36M-row shuffles spill under 8g); cluster deployments
        # override per-executor memory in deployment conf instead
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
