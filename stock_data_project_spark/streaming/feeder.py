"""The one drop feeder for multi-drop streaming scenarios.

A memory sink cannot recover a checkpoint, so a scenario whose
watermark or state must carry from one drop to the next runs as ONE
long-lived query, never as restarts: ``feed_drops`` stages a frame as
N single-file parquet drops, then delivers them one at a time into the
query's source dir with one ``processAllAvailable`` per drop. Each
drop is therefore one micro-batch, followed (for watermarked queries)
by the trailing no-data batch that commits the watermark the next
drop is gated by.

``drop_stream`` is the file source over a drop dir, one file per
micro-batch; the feeder and the ``foreachBatch`` drivers in
``streaming/pipeline.py`` both read drops through it.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType


def drop_stream(
    spark: SparkSession, in_dir: str, schema: StructType | None = None
) -> DataFrame:
    """File stream over the parquet drops in ``in_dir``, one file per
    micro-batch; the schema is probed from the drops already there
    unless given."""
    return (
        spark.readStream.format("parquet")
        .schema(schema or spark.read.parquet(in_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .load(in_dir)
    )


def stage_drops(
    frame: DataFrame, n: int, root: str, drop_of: Column | None = None
) -> list[str]:
    """Write ``frame`` as ``n`` single-file parquet drops under
    ``root``; returns their paths in delivery order.

    A row goes to drop ``drop_of`` (an integer Column, 0..n-1) or,
    without it, to its event-time ntile over ``ts``. The ranked frame
    is persisted before branching: the per-drop filters would re-run
    the sort otherwise, and tied timestamps could migrate between
    drops across re-executions (rank.py / CLAUDE.md)."""
    ranked = drop_of is None
    if ranked:
        drop_of = F.ntile(n).over(Window.orderBy("ts")) - 1
    tagged = frame.withColumn("_drop", drop_of)
    if ranked:
        tagged = tagged.persist()
        tagged.count()
    try:
        stages = []
        for k in range(n):
            stage = os.path.join(root, f"stage_{k}")
            tagged.filter(F.col("_drop") == k).drop("_drop").coalesce(1).write.parquet(
                stage
            )
            part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
            stages.append(os.path.join(stage, part))
    finally:
        if ranked:
            tagged.unpersist()
    return stages


def feed_drops(
    frame: DataFrame,
    n: int,
    writer: Callable[[DataFrame], DataStreamWriter],
    drop_of: Column | None = None,
) -> list:
    """Feed ``frame`` as ``n`` drops (``stage_drops`` splits it)
    through ONE streaming query and return the query's progress.

    ``writer(stream)`` builds the query's DataStreamWriter over the
    drop stream; the feeder gives it a checkpoint, starts it, delivers
    each drop with an atomic hard link (the source never lists a
    half-copied file), calls ``processAllAvailable`` once per drop and
    stops it. Every staged file lives in a temp dir deleted before
    returning, so a memory sink's rows have no lineage into it."""
    root = tempfile.mkdtemp(prefix="drops_")
    try:
        stages = stage_drops(frame, n, root, drop_of)
        in_dir = os.path.join(root, "drops")
        os.makedirs(in_dir)
        schema = frame.drop("_drop").schema
        stream = drop_stream(frame.sparkSession, in_dir, schema)
        q = writer(stream).option(
            "checkpointLocation", os.path.join(root, "checkpoint")
        ).start()
        try:
            for k, stage in enumerate(stages):
                os.link(stage, os.path.join(in_dir, f"drop_{k}.parquet"))
                q.processAllAvailable()
            return q.recentProgress
        finally:
            q.stop()
    finally:
        shutil.rmtree(root, ignore_errors=True)
