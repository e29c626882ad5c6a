"""Streaming pipeline tests: the incremental star upsert must
converge to exactly the batch daily-bars result (stream/batch
parity), be idempotent across restarts, and merge a (key, day) split
across micro-batches losslessly."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from stock_data_project_spark.catalog import load_table
from stock_data_project_spark.operators.series import daily_bars
from stock_data_project_spark.streaming.pipeline import (
    combine_bars,
    ingest_dedup_batch,
    mergeable_bars,
    read_ingested,
    run_incremental_star,
    scd2_upsert_batch,
    upsert_bars_batch,
)
from tests.conftest import SF_SMOKE


def _visible(bars_ext):
    return bars_ext.select(
        "series_key", "date", "open", "high", "low", "close", "volume",
        F.round("sum_value", 6).alias("turnover"),
    )


def test_incremental_star_matches_batch(spark):
    with tempfile.TemporaryDirectory() as out:
        run_incremental_star(spark, SF_SMOKE, out)
        got = _visible(spark.read.parquet(f"{out}/fact_bars"))
        want = daily_bars(load_table(spark, SF_SMOKE, "events"))
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        # re-run with the same checkpoint: no new data -> unchanged
        run_incremental_star(spark, SF_SMOKE, out)
        again = _visible(spark.read.parquet(f"{out}/fact_bars"))
        assert again.count() == want.count()


def test_upsert_survives_crash_windows(spark):
    """The pointer-file commit must keep history through every crash
    window: an uncommitted data dir left by a crash mid-epoch never
    becomes visible, a replayed epoch is a no-op, and a lost symlink
    refresh (crash after commit) heals on the next delivery."""
    import os

    ev = load_table(spark, SF_SMOKE, "events")
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)
    with tempfile.TemporaryDirectory() as out:
        upsert_bars_batch(b0, 0, out)
        count0 = spark.read.parquet(f"{out}/fact_bars").count()

        # crash window A: epoch-1 dir written (here: garbage) but the
        # pointer was never committed -> replay of epoch 0 is a no-op
        # and the table still serves the epoch-0 state
        os.makedirs(f"{out}/fact_bars_1")
        with open(f"{out}/fact_bars_1/junk", "w") as fh:
            fh.write("not parquet")
        upsert_bars_batch(b0, 0, out)
        assert spark.read.parquet(f"{out}/fact_bars").count() == count0

        # redelivery of epoch 1 completes: full batch parity
        upsert_bars_batch(b1, 1, out)
        want = daily_bars(ev)
        got = _visible(spark.read.parquet(f"{out}/fact_bars"))
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

        # crash window B: commit landed but the symlink refresh was
        # lost -> the replayed delivery restores it without rewriting
        os.remove(f"{out}/fact_bars")
        upsert_bars_batch(b1, 1, out)
        got = _visible(spark.read.parquet(f"{out}/fact_bars"))
        assert got.exceptAll(want).count() == 0

        # the sweep keeps the PREVIOUS committed dir for one commit
        # cycle (grace window for readers that resolved the symlink
        # just before the commit), and drops it on the next commit
        dirs = sorted(n for n in os.listdir(out) if n.startswith("fact_bars_"))
        assert dirs == ["fact_bars_0", "fact_bars_1"]
        upsert_bars_batch(b1.limit(0), 2, out)  # empty epoch advances commit
        dirs = sorted(n for n in os.listdir(out) if n.startswith("fact_bars_"))
        assert dirs == ["fact_bars_1", "fact_bars_2"]
        got = _visible(spark.read.parquet(f"{out}/fact_bars"))
        assert got.exceptAll(want).count() == 0


# every foreachBatch sink reads its pointer through sources/commit.py:
# (sink, the epoch dir a well-formed pointer would name)
_SINKS = {
    "upsert_bars_batch": (upsert_bars_batch, "events", "fact_bars_3"),
    "scd2_upsert_batch": (scd2_upsert_batch, "events", "scd2_3"),
    "ingest_dedup_batch": (ingest_dedup_batch, "documents", "docs_epoch_3"),
}
_STALE = [
    (sink, case)
    for sink in _SINKS
    for case in ("unparseable", "missing_dir")
] + [("upsert_bars_batch", "not_a_symlink")]


@pytest.mark.parametrize("sink,case", _STALE, ids=[f"{s}-{c}" for s, c in _STALE])
def test_stale_state_fails_loudly_instead_of_truncating(spark, sink, case):
    """Unrecognizable commit state must raise, never parse as 'no
    commit' (which would merge the next epoch from nothing and
    permanently truncate history — r2 ADVICE). Holds for every sink:
    an old-format pointer (no tab), a pointer naming a dir that does
    not exist, and (for the star's stable name) a REAL directory
    squatting on the symlink name with no pointer."""
    import os

    batch_fn, table, dirname = _SINKS[sink]
    batch = load_table(spark, SF_SMOKE, table)
    with tempfile.TemporaryDirectory() as out:
        if case == "not_a_symlink":
            os.makedirs(f"{out}/fact_bars")
            match = "not a symlink"
        else:
            with open(f"{out}/_last_epoch", "w") as fh:
                fh.write("3" if case == "unparseable" else f"3\t{dirname}")
            match = (
                "unparseable commit pointer"
                if case == "unparseable"
                else "missing data dir"
            )
        with pytest.raises(RuntimeError, match=match):
            batch_fn(batch, 4, out)


def test_ingest_gate_replay_is_noop_and_crash_is_invisible(spark, tmp_path):
    """The exact ingest gate's commit under foreachBatch's
    at-least-once contract: a replayed epoch <= the pointer is a
    no-op, and the docs/hashes dirs an uncommitted epoch left behind
    are invisible to ``read_ingested`` AND to the retried epoch's
    history — were its own partial hashes visible, the retry would
    reject every one of its documents."""
    import os

    from stock_data_project_spark.operators.dedup import incremental_dedup
    from stock_data_project_spark.operators.textops import normalized

    docs = load_table(spark, SF_SMOKE, "documents")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    out = str(tmp_path / "ingested")

    ingest_dedup_batch(b0, 0, out)
    n0 = read_ingested(spark, out).count()
    ingest_dedup_batch(b1, 0, out)  # replay with other content
    assert read_ingested(spark, out).count() == n0
    assert sorted(os.listdir(out)) == ["_last_epoch", "docs_epoch_0", "hashes_epoch_0"]

    # crash in epoch 1 after both writes, before the pointer rename;
    # the partial hashes hold every fingerprint of b1
    survivors, hashes = incremental_dedup(b1)
    survivors.write.parquet(f"{out}/docs_epoch_1")
    hashes.write.parquet(f"{out}/hashes_epoch_1")
    assert read_ingested(spark, out).count() == n0

    ingest_dedup_batch(b1, 1, out)  # the redelivery
    want = (
        docs.filter(F.col("text").isNotNull())
        .select(F.md5(normalized("text")))
        .distinct()
        .count()
    )
    assert want > n0  # b1 brings new content, so the retry must admit some
    got = read_ingested(spark, out)
    assert got.count() == want
    assert got.select("content_hash").distinct().count() == want


def test_partial_batches_merge_losslessly(spark):
    """The bug a replace-by-key upsert has: a day split across two
    micro-batches must still produce the full day's bar."""
    ev = load_table(spark, SF_SMOKE, "events")
    first_half = ev.filter(F.col("event_id") % 2 == 0)
    second_half = ev.filter(F.col("event_id") % 2 == 1)
    merged = combine_bars(
        mergeable_bars(first_half).unionByName(mergeable_bars(second_half))
    )
    want = daily_bars(ev)
    got = _visible(merged)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_interval_join_parity_and_late_row_eviction(spark):
    """(a) On single-batch bounded input the streaming interval join
    equals the batch join. (b) With two micro-batches, a click whose
    event time is older than the advanced watermark minus the
    interval bound must NOT produce a match — the view's state was
    evicted; an in-watermark click still matches."""
    import os

    from pyspark.sql import types as T

    from stock_data_project_spark.plans.stream import QUERIES

    # (a) parity on the bounded testdata vs the equivalent batch join
    got = QUERIES["stream_interval_join"](spark, SF_SMOKE)
    ev = load_table(spark, SF_SMOKE, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("user_id").alias("u"), F.col("ts").alias("vts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    want = v.join(
        c,
        F.expr("u = cu AND cts >= vts AND cts <= vts + interval 30 minutes"),
    )
    assert got.count() == want.count()

    # (b) eviction across micro-batches on a hand-built file stream
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    base = "2024-01-01 00:00:00"

    def rows(*specs):
        import datetime

        b = datetime.datetime.fromisoformat(base)
        return [
            (eid, b + datetime.timedelta(minutes=m), uid, et)
            for (eid, m, uid, et) in specs
        ]

    with tempfile.TemporaryDirectory() as d:
        src, ckpt = os.path.join(d, "src"), os.path.join(d, "ckpt")
        os.makedirs(src)
        # batch 1: a view at t+0 for user 1, and far-future rows on
        # BOTH sides at t+600 — the global watermark is the MIN over
        # every input's watermark, so the click side must also see
        # data for it to advance past t+540
        spark.createDataFrame(
            rows((1, 0, 1, "view"), (2, 600, 2, "view"), (5, 600, 99, "click")),
            schema,
        ).coalesce(1).write.mode("append").parquet(src)

        stream = spark.readStream.schema(schema).parquet(src)
        views = (
            stream.filter(F.col("event_type") == "view")
            .select(F.col("event_id").alias("view_id"), F.col("user_id").alias("vu"), F.col("ts").alias("view_ts"))
            .withWatermark("view_ts", "1 hour")
        )
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"), F.col("ts").alias("click_ts"))
            .withWatermark("click_ts", "1 hour")
        )
        joined = views.join(
            clicks,
            F.expr("vu = cu AND click_ts >= view_ts AND click_ts <= view_ts + interval 30 minutes"),
        ).select("view_id", "click_id")
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("interval_evict")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()  # watermark -> 600min - 60min = t+540
            # batch 2: a LATE click at t+10 (matches view 1 in event
            # time, but view 1's state was evicted at watermark t+540 >
            # t+0+30min) and an on-time click at t+605 matching view 2
            spark.createDataFrame(
                rows((3, 10, 1, "click"), (4, 605, 2, "click")), schema
            ).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        matches = {
            (r["view_id"], r["click_id"])
            for r in spark.table("interval_evict").collect()
        }
        assert (2, 4) in matches  # in-watermark pair joins
        assert (1, 3) not in matches  # late click: view state evicted


def test_stream_ingest_dedup_gate(spark, tmp_path):
    """Streaming ingest gate: batch-2 re-drops of already-admitted
    content are rejected, genuinely new content is admitted, replayed
    epochs are no-ops, and the reader view never double-counts."""
    import shutil

    from pyspark.sql import functions as F

    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.streaming.pipeline import (
        ingest_dedup_batch,
        read_ingested,
        run_ingest_dedup,
    )
    from tests.conftest import SF_SMOKE

    in_dir = tmp_path / "drops"
    out_dir = str(tmp_path / "ingested")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()

    docs = load_table(spark, SF_SMOKE, "documents")
    n_contents = docs.select(F.md5(F.lower("text"))).distinct().count()  # rough floor
    shutil.copy(f"{SF_SMOKE}/documents.parquet", in_dir / "drop1.parquet")
    run_ingest_dedup(spark, str(in_dir), out_dir, ckpt)
    admitted1 = read_ingested(spark, out_dir).count()
    assert admitted1 >= n_contents * 0.9  # near-unique corpus

    # drop 2: half the old docs again (same content, new ids) + 50 new
    old_again = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    fresh = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.lit("NEW! "), "text").alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    old_again.unionByName(fresh).coalesce(1).write.parquet(str(tmp_path / "stage"))
    part = next(p for p in (tmp_path / "stage").iterdir() if p.suffix == ".parquet")
    shutil.copy(part, in_dir / "drop2.parquet")

    run_ingest_dedup(spark, str(in_dir), out_dir, ckpt)
    out = read_ingested(spark, out_dir)
    assert out.count() == admitted1 + 50  # only the new content got in
    assert out.filter(F.col("doc_id") >= 2_000_000).count() == 50
    assert out.filter(
        (F.col("doc_id") >= 1_000_000) & (F.col("doc_id") < 2_000_000)
    ).count() == 0

    # replay guard: re-running an already-committed epoch is a no-op
    ingest_dedup_batch(docs, 0, out_dir)
    assert read_ingested(spark, out_dir).count() == admitted1 + 50
    # admitted corpus has globally unique content
    assert (
        out.select(F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))))
        .distinct()
        .count()
        == admitted1 + 50
    )
