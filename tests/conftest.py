from __future__ import annotations

import os

import pytest

from stock_data_project_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


def assert_one_file_per_month(fact_dir: str) -> None:
    """The fact is written one parquet file per year=/month= dir."""
    months = 0
    for y in os.listdir(fact_dir):
        if not y.startswith("year="):
            continue
        for m in os.listdir(os.path.join(fact_dir, y)):
            files = os.listdir(os.path.join(fact_dir, y, m))
            assert len([f for f in files if f.endswith(".parquet")]) == 1, (y, m)
            months += 1
    assert months > 0
