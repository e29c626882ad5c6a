"""End-state parity with the reference: the star schema written to
parquet (fetch_stocks.py:243-266) must round-trip and prune."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from stock_data_project_spark.catalog import load_table
from stock_data_project_spark.operators.star import build_fact, materialize_star
from tests.conftest import SF_SMOKE, assert_one_file_per_partition


def test_star_materialization_roundtrip(spark):
    events = load_table(spark, SF_SMOKE, "events")
    with tempfile.TemporaryDirectory() as d:
        materialize_star(events, d)
        assert sorted(os.listdir(d)) == [
            "annual_indicators", "dim_date", "dim_entity", "fact_market",
        ]
        fact = spark.read.parquet(os.path.join(d, "fact_market"))
        want = build_fact(events)
        assert fact.count() == want.count()
        # partition layout: year=/month= hive dirs, one file in each
        assert_one_file_per_partition(os.path.join(d, "fact_market"), ["year", "month"])
        # a month filter should prune to partition dirs
        plan = (
            fact.filter((F.col("year") == 2024) & (F.col("month") == 1))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PartitionFilters" in plan
        # dims re-read and join back onto the fact
        dims = spark.read.parquet(os.path.join(d, "dim_entity"))
        joined = fact.join(dims, fact.entity_key == dims.entity_key)
        assert joined.count() == fact.count()
