#!/usr/bin/env python
"""One-off probe: time the Lloyd trajectory behind embedding_kmeans
and embedding_outliers over replicated embeddings at several scale
points, so the checkpoint-round floor the r9 verdict asked about is
pinned explicitly.

Usage: python tools/kmeans_trajectory_probe.py [N ...] (default 30 60 120)
Prints one JSON line {N: seconds}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stock_data_project_spark.catalog import load_table  # noqa: E402
from stock_data_project_spark.session import get_spark  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ns = [int(a) for a in sys.argv[1:]] or [30, 60, 120]
    spark = get_spark(
        "kmeans_probe", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    from stock_data_project_spark.plans.llm_next9 import _final_assignment

    emb = load_table(spark, SRC, "embeddings")
    max_vid = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    out = {}
    for n in ns:
        d = tempfile.mkdtemp(prefix="kmeans_probe_")
        try:
            reps = spark.range(n).withColumnRenamed("id", "rep")
            emb.crossJoin(reps).select(
                (F.col("vec_id") + F.col("rep") * max_vid).alias("vec_id"),
                "embedding",
                "label",
            ).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
            # warmup once (codegen/file-index), then measure the
            # full trajectory
            _final_assignment(spark, d).write.mode("overwrite").format(
                "noop"
            ).save()
            t0 = time.perf_counter()
            _final_assignment(spark, d).write.mode("overwrite").format(
                "noop"
            ).save()
            out[n] = round(time.perf_counter() - t0, 2)
        finally:
            shutil.rmtree(d, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
