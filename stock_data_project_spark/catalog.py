"""Table catalog over a testdata scale-factor directory.

The reference reads its tables ad-hoc from MinIO via DuckDB httpfs
(fetch_stocks.py:152-161); here a small registry maps logical table
names to parquet paths with explicit schemas, so every plan gets
column pruning + predicate pushdown from the scan and no sampling
passes for schema inference.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def convert_nanos_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp to TIMESTAMP_LTZ across the two
    testdata layouts seen so far (batch + streaming read paths):

    - TIMESTAMP(NANOS): Spark has no native type; read as int64 via
      the ``nanosAsLong`` conf, then integer-divide to micros (the
      testdata is µs-aligned so this is exact; a float path would
      corrupt int64 nanos past 2^53).
    - TIMESTAMP(micros, isAdjustedToUTC=false): read as
      TIMESTAMP_NTZ; the session time zone is pinned UTC before every
      scan, so casting to TIMESTAMP_LTZ re-tags the same instant and
      keeps unix_micros()/window() downstream working unchanged.
    """
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# PLAN-level memo: the analyzed scan DataFrame per (application,
# sf_dir, table). spark.read.parquet re-reads the footer (a driver-
# side file read + schema resolve) on EVERY call, and a bench pass
# makes ~10³ load_table calls; caching the lazy DataFrame is the
# register_views amortization applied to the DataFrame API. This
# memoizes an UNEVALUATED plan — schema + file listing of an
# immutable snapshot — never data or results: every action on it
# still scans parquet. Keyed by applicationId so a stopped session's
# plans can never leak into a new one (operators/memo.py contract).
_SCAN_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Parquet carries the schema; Catalyst prunes.

    ``events.ts`` physical type has varied across driver testdata
    generations (TIMESTAMP(NANOS) in r1-r2, TIMESTAMP(micros,
    isAdjustedToUTC=false) in r3); ``convert_nanos_ts`` normalizes
    either layout to TIMESTAMP_LTZ under a UTC session zone. The
    ``nanosAsLong`` conf is set unconditionally — it only affects
    NANOS columns and is a no-op on the micros layout.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Date/window results must be reproducible against a UTC-naive
    # DuckDB oracle regardless of the caller's session defaults — the
    # conf reset stays on EVERY call (memo hits included): execution
    # reads the session zone at run time, and a caller may have
    # changed it since the plan was memoized.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    hit = _SCAN_MEMO.get(key)
    if hit is not None:
        return hit
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = convert_nanos_ts(spark.read.parquet(table_path(sf_dir, name)))
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    _SCAN_MEMO[key] = df
    return df


# footer metadata memo: table path -> (files signature, num_rows). A
# parquet footer read is driver-side milliseconds and never a Spark job.
_ROWS_MEMO: dict[str, tuple[tuple, int]] = {}


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count from the parquet FOOTER — a driver-side
    metadata read (no Spark job), for data-derived sizing decisions
    (guide §2.2: derive partitioning from the data, never from a
    deployment constant). The memo holds the count with the (path,
    size, mtime) of every footer file it summed, so a table rewritten
    in place (a test fixture, a refreshed snapshot) is recounted
    rather than served a stale count."""
    import glob

    import pyarrow.parquet as pq

    path = os.path.abspath(table_path(sf_dir, name))
    # testdata snapshots are single files; Spark-written fixtures
    # (tests) are directories of part files — sum their footers
    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    sig = tuple((f, st.st_size, st.st_mtime_ns) for f in files for st in [os.stat(f)])
    hit = _ROWS_MEMO.get(path)
    if hit is None or hit[0] != sig:
        hit = _ROWS_MEMO[path] = (
            sig,
            sum(pq.ParquetFile(f).metadata.num_rows for f in files),
        )
    return hit[1]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API. Skips the
    work (10 parquet footer reads) when this session already has views
    for the same sf_dir."""
    marker = "spark.stock_data_project.registered_sf_dir"
    try:
        if spark.conf.get(marker) == sf_dir:
            return
    except Exception:
        pass
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    spark.conf.set(marker, sf_dir)
