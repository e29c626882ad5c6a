"""Sinks: partitioned parquet + object-store configuration.

The reference's sink is parquet-on-MinIO via DuckDB httpfs
(fetch_stocks.py:243-266). Spark's equivalent is s3a:// paths; the
helper sets the MinIO-style config (path-style, no SSL). Jars for
hadoop-aws aren't in this container, so the helper only sets conf —
callers on a real cluster get working s3a for free, local callers
keep using file paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def configure_s3a(
    spark: SparkSession,
    endpoint: str,
    access_key: str,
    secret_key: str,
    ssl: bool = False,
) -> None:
    """MinIO-compatible s3a settings (path-style addressing)."""
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    hc.set("fs.s3a.endpoint", endpoint)
    hc.set("fs.s3a.access.key", access_key)
    hc.set("fs.s3a.secret.key", secret_key)
    hc.set("fs.s3a.path.style.access", "true")
    hc.set("fs.s3a.connection.ssl.enabled", "true" if ssl else "false")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: str | list[str],
    n_buckets: int,
    sort_cols: str | list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
    coalesce_files: bool = True,
) -> None:
    """Bucketed (+ sorted) parquet table for repeated co-located
    joins: two tables bucketed on their join key with the same bucket
    count sort-merge join with ZERO Exchange — the shuffle is paid
    once at write time and amortized over every subsequent join
    (tests/test_scale_layout.py asserts the Exchange-free plan).
    This is the Spark-native analog of the reference's habit of
    re-joining the same daily fact export (fetch_stocks.py:221-247).

    ``coalesce_files=True`` repartitions by the bucket columns into
    exactly ``n_buckets`` partitions before writing. Without it each
    write task emits one file PER bucket it sees — n_tasks ×
    n_buckets files at scale (the bucketed small-files trap). Spark
    computes both the repartition target and the bucket id with the
    same Murmur3 hash (pmod over the same column hash), so with
    n_partitions == n_buckets every task holds exactly one bucket's
    rows → one file per bucket. Set it False when the upstream frame
    is already clustered or when per-bucket data exceeds a healthy
    file size (then prefer more buckets instead).

    ``path=None`` writes a managed table under the warehouse dir;
    pass an explicit path for an external table. Buckets default to
    sorting by the bucket columns, which layers in-file ordering on
    top (rangeless sort-merge reads, better parquet stats pruning).
    """
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    sc = (
        cols
        if sort_cols is None
        else ([sort_cols] if isinstance(sort_cols, str) else list(sort_cols))
    )
    out = df.repartition(n_buckets, *cols) if coalesce_files else df
    w = (
        out.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, *cols)
        .sortBy(*sc)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
    max_records_per_file: int = 5_000_000,
) -> None:
    """Partitioned parquet write, one file per partition value.

    A write task emits one file per partition value it holds, so
    writing the frame as it arrives costs (tasks × values) small
    files, more on wider machines. With ``partition_cols`` the frame
    is first rebalanced on them (the ``rebalance`` hint): rows are
    hash-grouped by partition value, so each value lands in one task
    and is written as one file. The hint rather than
    ``repartition(*cols)``: under AQE (always on, see session.py)
    ``OptimizeSkewInRebalancePartitions`` splits a value larger than
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` into
    advisory-sized files, where a plain repartition would write a
    skewed value from a single task. ``maxRecordsPerFile`` still caps
    any one file.
    """
    w = df.write
    if partition_cols:
        w = df.hint("rebalance", *partition_cols).write.partitionBy(*partition_cols)
    w.mode(mode).option("maxRecordsPerFile", max_records_per_file).parquet(path)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 << 20,
) -> dict[str, int]:
    """Compact a parquet directory's many small files into
    ~``target_file_bytes`` outputs — the standing maintenance job for
    any streaming / micro-batch sink, where every trigger appends a
    few files and a year of triggers yields millions of them (at
    100 TB the scan's task-scheduling cost becomes file-count-bound,
    not byte-bound).

    Writes to a NEW directory and returns stats; it deliberately does
    NOT mutate ``src`` in place — swap visibility with whatever
    commit mechanism owns the table (a metastore location update, or
    the pointer-file epoch commit in ``sources/commit.py``).
    In-place swaps are where readers observe half-states; keeping
    this function pure makes the crash story the caller's single
    concern.

    Sizes come from the Hadoop FileSystem API, so s3a:// paths work
    unchanged on a real cluster. The rewrite is one full shuffle
    (``repartition``) — round-robin, so output files are even-sized
    regardless of input skew.
    """
    import math

    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(src)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(jpath).getLength()
    files = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            files += 1
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))
    spark.read.parquet(src).repartition(n_out).write.mode("error").parquet(dst)
    return {"files_before": files, "files_after": n_out, "bytes": total_bytes}


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: str | list[str],
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-clustered, within-file-sorted parquet — the layout that
    makes parquet min/max row-group statistics actually PRUNE.

    A hash-partitioned write scatters every value range across every
    file, so each file's min/max on a filter column spans the whole
    domain and predicate pushdown skips nothing: a point/range query
    still opens every file. ``repartitionByRange(sort_cols)`` +
    ``sortWithinPartitions`` gives (near-)disjoint per-file ranges
    and monotone row groups inside each file, so a ts/key predicate
    prunes to the handful of files (and row groups within them) that
    can contain matches — at 100 TB the difference between a full
    scan and touching a few hundred MB. This is the single-dimension
    (and honest) version of what table formats call clustering /
    Z-ORDER; for multi-column pruning, bucket the second key via
    ``write_bucketed`` instead.

    The range exchange samples boundaries (nondeterministic across
    plan re-executions — the rank.py hazard), but a write evaluates
    its plan exactly once, so the layout is consistent within any
    one output; re-runs may place boundaries slightly differently
    without affecting correctness.

    tests/test_scale_layout.py verifies the contract on the parquet
    FOOTERS (pyarrow): per-file min/max ranges non-overlapping
    (modulo boundary duplicates) where an unsorted write's overlap
    is near-total.
    """
    cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    z_cols: list[str],
    n_files: int = 8,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Multi-column clustered parquet via a Morton (Z-order) curve —
    the k-dimensional completion of ``write_sorted``.

    ``write_sorted`` makes ONE column's per-file ranges disjoint; a
    second filter column still spans the whole domain in every file.
    Interleaving the bits of each column's bucket index into one
    z-value and range-writing on THAT gives every z_col a per-file
    range of roughly domain/files^(1/k): a predicate on ANY of the
    k columns prunes files (the table-format Z-ORDER recipe, e.g.
    the Delta/Iceberg OPTIMIZE ZORDER BY semantics, expressed with
    plain codegen bit arithmetic — shiftleft/shiftright/bitwiseAND —
    and one range exchange).

    Bucketing is UNIFORM over each column's [min, max] (one tiny
    min/max agg job; the bucket transform itself is codegen
    width-bucket arithmetic). Heavily skewed columns therefore
    cluster less evenly than an equi-depth bucketing would — the
    documented trade for keeping the map side expression-only;
    pre-transform a skewed column (log, rank) if pruning on it
    matters. NULLs bucket to 0 (the first file range).

    tests/test_scale_layout.py verifies on parquet FOOTERS that each
    z column's mean per-file fractional range is well under 1, while
    a 1-D sorted write leaves the OTHER column's ranges near-total.
    """
    if not 1 <= len(z_cols) <= 4:
        raise ValueError("write_zordered: 1-4 z_cols supported")
    if bits * len(z_cols) > 62:
        raise ValueError("write_zordered: bits * len(z_cols) must be <= 62")
    k = len(z_cols)
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in z_cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in z_cols],
    ).collect()[0]
    n_buckets = 1 << bits
    bucket_cols = []
    for c in z_cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        if mn is None or mx is None or mx <= mn:
            b = F.lit(0).cast("long")
        else:
            scaled = (F.col(c).cast("double") - F.lit(mn)) / F.lit(mx - mn)
            b = F.least(
                F.floor(scaled * n_buckets).cast("long"), F.lit(n_buckets - 1)
            )
        bucket_cols.append(F.coalesce(b, F.lit(0)))
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for i, b in enumerate(bucket_cols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, bit).bitwiseAND(F.lit(1)), bit * k + i
                )
            )
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )
