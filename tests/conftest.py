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


def assert_one_file_per_partition(table_dir: str, partition_cols: list[str]) -> list[str]:
    """A partitioned table is written one parquet file per partition
    dir (one level per column of ``partition_cols``). Returns the
    partition dirs found, relative to ``table_dir``, sorted."""
    dirs = [""]
    for col in partition_cols:
        dirs = [
            os.path.join(d, p)
            for d in dirs
            for p in os.listdir(os.path.join(table_dir, d))
            if p.startswith(f"{col}=")
        ]
    assert dirs, f"no {partition_cols} partition dirs under {table_dir}"
    for d in dirs:
        files = os.listdir(os.path.join(table_dir, d))
        assert len([f for f in files if f.endswith(".parquet")]) == 1, (d, files)
    return sorted(dirs)
