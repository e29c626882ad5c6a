"""Sources: CSV ingestion (reference file layout), partitioned
parquet round-trip."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from stock_data_project_spark.sources import (
    read_csv,
    stocks_csv_schema,
    write_partitioned,
)
from tests.conftest import assert_one_file_per_partition


def test_stocks_csv_roundtrip(spark):
    """The reference's ingest format (fetch_stocks.py:69-70) parses
    with the explicit schema; a malformed row lands in
    _corrupt_record instead of poisoning the load."""
    csv = (
        "Date,Ticker,Open,High,Low,Close,Adj Close,Volume\n"
        "2024-01-02,^GSPC,4745.2,4754.3,4722.7,4742.8,4742.8,3743050000\n"
        "2024-01-03,^DJI,37566.2,37617.1,37401.4,37430.2,37430.2,271800000\n"
        "garbage,row,with,too,few\n"
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "stocks.csv")
        with open(path, "w") as f:
            f.write(csv)
        # Spark disallows querying only _corrupt_record on raw CSV;
        # cache the parsed result first (documented restriction)
        df = read_csv(spark, path, stocks_csv_schema()).cache()
        ok = df.filter(F.col("_corrupt_record").isNull())
        bad = df.filter(F.col("_corrupt_record").isNotNull())
        assert ok.count() == 2
        assert bad.count() == 1
        row = ok.filter(F.col("Ticker") == "^GSPC").collect()[0]
        assert row["Close"] == 4742.8


def test_read_json_with_schema(spark):
    import json

    from pyspark.sql import types as T

    from stock_data_project_spark.sources import read_json

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "events.jsonl")
        with open(path, "w") as f:
            for i in range(5):
                f.write(json.dumps({"id": i, "v": i * 1.5, "tag": f"t{i % 2}"}) + "\n")
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.DoubleType()),
                T.StructField("tag", T.StringType()),
            ]
        )
        df = read_json(spark, path, schema)
        assert df.count() == 5
        assert df.filter(F.col("tag") == "t1").count() == 2


def _parquet_files(d: str) -> list[str]:
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def test_write_partitioned_roundtrip(spark):
    # every one of the 8 input partitions holds all 3 values
    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(300)],
        "id long, part string, v double",
    ).repartition(8)
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "t")
        write_partitioned(df, out, partition_cols=["part"])
        # hive-style partition dirs exist -> partition pruning works;
        # rebalanced on the partition column: one file per value, not
        # one per (input partition x value)
        parts = assert_one_file_per_partition(out, ["part"])
        assert parts == ["part=a", "part=b", "part=c"]
        back = spark.read.parquet(out)
        assert back.count() == 300
        assert back.filter(F.col("part") == "a").count() == 100


def test_write_partitioned_splits_skewed_value(spark, tmp_path):
    """A value larger than AQE's advisory partition size is split into
    several files instead of being written by one task."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "256k")
    try:
        df = spark.range(0, 200_000, numPartitions=8).select(
            "id",
            F.when(F.col("id") < 180_000, "hot")
            .otherwise(F.concat(F.lit("c"), (F.col("id") % 4).cast("string")))
            .alias("part"),
            (F.col("id") * 1.5).alias("v"),
        )
        out = str(tmp_path / "t")
        write_partitioned(df, out, partition_cols=["part"])
    finally:
        spark.conf.set(key, old)
    assert len(_parquet_files(os.path.join(out, "part=hot"))) > 1
    back = spark.read.parquet(out)
    assert back.count() == 200_000
    assert back.filter(F.col("part") == "hot").count() == 180_000


def test_ts_layout_normalization_nanos_and_ntz_micros(spark, tmp_path):
    """The driver has shipped events.ts as TIMESTAMP(NANOS) (r1-r2)
    and TIMESTAMP(micros, isAdjustedToUTC=false) → TIMESTAMP_NTZ
    (r3). convert_nanos_ts must normalize BOTH layouts to the same
    TIMESTAMP_LTZ instants under the pinned UTC session zone."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from stock_data_project_spark.catalog import convert_nanos_ts

    micros = [1704067207_179575, 1706659032_194062]  # µs-aligned
    nanos_path = str(tmp_path / "nanos.parquet")
    ntz_path = str(tmp_path / "ntz.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([m * 1000 for m in micros], pa.timestamp("ns"))}),
        nanos_path,
    )
    pq.write_table(
        pa.table({"ts": pa.array(micros, pa.timestamp("us"))}), ntz_path
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out = {}
    for name, path in (("nanos", nanos_path), ("ntz", ntz_path)):
        df = convert_nanos_ts(spark.read.parquet(path))
        assert dict(df.dtypes)["ts"] == "timestamp", (name, df.dtypes)
        out[name] = sorted(
            r[0] for r in df.select(F.unix_micros("ts")).collect()
        )
    assert out["nanos"] == out["ntz"] == sorted(micros)


def test_table_rows_recounts_a_rewritten_fixture(spark, tmp_path):
    """A fixture dir rewritten in-process with a different row count
    gets the new footer count, not the memoized one: a stale count
    silently changes every sizing decision derived from it."""
    from stock_data_project_spark.catalog import table_path, table_rows

    sf_dir = str(tmp_path)
    path = table_path(sf_dir, "documents")
    spark.range(40).coalesce(2).write.mode("overwrite").parquet(path)
    assert table_rows(sf_dir, "documents") == 40
    spark.range(25).coalesce(2).write.mode("overwrite").parquet(path)
    assert table_rows(sf_dir, "documents") == 25


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """Many-small-files dir → few target-sized files, same rows; src
    untouched (the swap belongs to the caller's commit mechanism)."""
    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.sources import compact_parquet
    from tests.conftest import SF_SMOKE

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    docs = load_table(spark, SF_SMOKE, "documents")
    docs.repartition(16).write.parquet(src)
    n_src_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_src_files == 16

    total = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    stats = compact_parquet(spark, src, dst, target_file_bytes=total)
    assert stats["files_before"] == 16
    n_dst_files = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    assert n_dst_files == stats["files_after"] <= 2
    back = spark.read.parquet(dst)
    assert back.count() == docs.count()
    assert sorted(back.columns) == sorted(docs.columns)
    # pure function: the fragmented source is still there, unchanged
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 16


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.sources import read_orc
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "docs_orc")
    docs.write.orc(path)
    back = read_orc(spark, path)
    assert back.count() == docs.count()
    assert dict(back.dtypes) == dict(docs.dtypes)
    # ORC scans take pushed filters like parquet
    plan = (
        back.filter(F.col("doc_id") < 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "doc_id" in plan
