"""Incremental SCD2 maintenance: N time-split drops streamed through
run_incremental_scd2 must equal the batch scd2_build over all events
— including run-split-across-batch healing — and a replayed run must
be a no-op."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from stock_data_project_spark.catalog import load_table
from stock_data_project_spark.operators.scd2 import scd2_build
from stock_data_project_spark.sources.commit import committed
from stock_data_project_spark.streaming.feeder import stage_drops
from stock_data_project_spark.streaming.pipeline import run_incremental_scd2
from tests.conftest import SF_SMOKE


def _sorted_rows(df):
    return sorted(
        map(tuple, df.select(
            "user_id", "tier", "valid_from", "valid_to", "n_events", "version"
        ).collect())
    )


def test_incremental_scd2_equals_batch(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    # three drops split on GLOBAL time — the append-only-per-user
    # contract; boundaries fall mid-run for many users, exercising
    # the merge_runs healing path
    qs = ev.approxQuantile("event_id", [0.33, 0.66], 0.0)
    with tempfile.TemporaryDirectory() as d:
        drops = os.path.join(d, "drops")
        out = os.path.join(d, "state")
        ck = os.path.join(d, "ck")
        os.makedirs(drops)
        os.makedirs(out)
        splits = [
            ev.filter(F.col("event_id") <= qs[0]),
            ev.filter((F.col("event_id") > qs[0]) & (F.col("event_id") <= qs[1])),
            ev.filter(F.col("event_id") > qs[1]),
        ]
        # event_id is assigned in ts order by the generator, so the
        # id-thirds are time-thirds; assert the contract anyway
        for a, b in zip(splits, splits[1:]):
            amax = a.agg(F.max("ts")).collect()[0][0]
            bmin = b.agg(F.min("ts")).collect()[0][0]
            assert amax <= bmin
        drop_of = (
            F.when(F.col("event_id") <= qs[0], 0)
            .when(F.col("event_id") <= qs[1], 1)
            .otherwise(2)
        )
        for i, stage in enumerate(stage_drops(ev, 3, d, drop_of)):
            # one file per drop, staged outside the drop dir and moved
            # in so the stream sees whole files only
            os.rename(stage, os.path.join(drops, f"drop_{i}.parquet"))
            run_incremental_scd2(spark, drops, out, ck)

        epoch, data_dir = committed(out)
        assert epoch >= 2 and data_dir
        final = spark.read.parquet(data_dir)
        expected = scd2_build(ev)
        assert _sorted_rows(final) == _sorted_rows(expected)

        # replay: re-running with nothing new must not move the pointer
        run_incremental_scd2(spark, drops, out, ck)
        assert committed(out)[0] == epoch


def test_incremental_scd2_same_ts_boundary(spark):
    """An old OPEN run and a new batch run sharing valid_from (the
    boundary event lands at the exact same ts — legal under the
    non-decreasing contract): the island tie-break must still order
    committed runs first, so incremental == batch (r5 advisor
    finding; new-run islands are offset past the old max version)."""
    from datetime import datetime

    from stock_data_project_spark.streaming.pipeline import scd2_upsert_batch

    t = lambda h: datetime(2024, 1, 1, h)  # noqa: E731
    schema = "event_id long, user_id long, ts timestamp, value double"
    batch1 = spark.createDataFrame(
        [(1, 7, t(10), 10.0), (2, 7, t(11), 60.0)], schema  # tiers 0, 1
    )
    batch2 = spark.createDataFrame(
        [(3, 7, t(11), 110.0)], schema  # tier 2 at the SAME ts as tier 1
    )
    with tempfile.TemporaryDirectory() as out:
        scd2_upsert_batch(batch1, 0, out)
        scd2_upsert_batch(batch2, 1, out)
        _, data_dir = committed(out)
        final = spark.read.parquet(data_dir)
        expected = scd2_build(batch1.unionByName(batch2))
        assert _sorted_rows(final) == _sorted_rows(expected)
        # and the chain is the batch order: tier 1 zero-width, tier 2 open
        rows = sorted(final.collect(), key=lambda r: r["version"])
        assert [r["tier"] for r in rows] == [0, 1, 2]
        assert rows[2]["valid_to"] is None


def test_scd2_late_gate_quarantines_and_state_is_clean(spark):
    """The late-data gate: a violating event is diverted to
    quarantine (observable, re-drivable), never merged — so the final
    dimension equals the batch build over ADMITTED events only."""
    from datetime import datetime

    from stock_data_project_spark.streaming.pipeline import scd2_upsert_batch

    t = lambda h: datetime(2024, 1, 1, h)  # noqa: E731
    schema = "event_id long, user_id long, ts timestamp, value double"
    batch1 = spark.createDataFrame(
        [(1, 7, t(10), 10.0), (2, 7, t(12), 60.0)], schema
    )
    batch2 = spark.createDataFrame(
        [
            (3, 7, t(11), 110.0),  # LATE: t11 < committed watermark t12
            (4, 7, t(13), 10.0),   # on time
            (5, 8, t(9), 20.0),    # new user: nothing can be late
        ],
        schema,
    )
    with tempfile.TemporaryDirectory() as root:
        out = os.path.join(root, "state")
        qdir = os.path.join(root, "q")
        os.makedirs(out)
        scd2_upsert_batch(batch1, 0, out, quarantine_dir=qdir)
        scd2_upsert_batch(batch2, 1, out, quarantine_dir=qdir)
        q0 = spark.read.parquet(os.path.join(qdir, "epoch_0"))
        q1 = spark.read.parquet(os.path.join(qdir, "epoch_1"))
        assert q0.count() == 0
        assert [r["event_id"] for r in q1.collect()] == [3]
        _, data_dir = committed(out)
        final = spark.read.parquet(data_dir)
        admitted = batch1.unionByName(
            batch2.filter(F.col("event_id") != 3)
        )
        assert _sorted_rows(final) == _sorted_rows(scd2_build(admitted))
        # replay of epoch 1 is a no-op for state AND quarantine
        scd2_upsert_batch(batch2, 1, out, quarantine_dir=qdir)
        assert committed(out)[0] == 1


def test_scd2_late_gate_null_user_group(spark):
    """NULL-user events gate against their OWN watermark (eqNullSafe
    join — the oracle's PARTITION BY groups NULLs together; a plain
    equi-join would admit every NULL-user event). r6 review finding."""
    from datetime import datetime

    from stock_data_project_spark.streaming.pipeline import scd2_upsert_batch

    t = lambda h: datetime(2024, 1, 1, h)  # noqa: E731
    schema = "event_id long, user_id long, ts timestamp, value double"
    batch1 = spark.createDataFrame([(1, None, t(12), 10.0)], schema)
    batch2 = spark.createDataFrame(
        [(2, None, t(11), 60.0), (3, None, t(13), 20.0)], schema
    )
    with tempfile.TemporaryDirectory() as root:
        out = os.path.join(root, "state")
        qdir = os.path.join(root, "q")
        os.makedirs(out)
        scd2_upsert_batch(batch1, 0, out, quarantine_dir=qdir)
        scd2_upsert_batch(batch2, 1, out, quarantine_dir=qdir)
        q1 = spark.read.parquet(os.path.join(qdir, "epoch_1"))
        assert [r["event_id"] for r in q1.collect()] == [2]


def test_incremental_scd2_null_user_equals_batch(spark):
    """Incremental == batch for a NULL-user group: the state↔batch
    key joins are null-safe, so a NULL user's committed rows are
    reconstructed and re-merged like any other key instead of forking
    the version chain (r6 review finding)."""
    from datetime import datetime

    from stock_data_project_spark.streaming.pipeline import scd2_upsert_batch

    t = lambda h: datetime(2024, 1, 1, h)  # noqa: E731
    schema = "event_id long, user_id long, ts timestamp, value double"
    batch1 = spark.createDataFrame(
        [(1, None, t(10), 10.0), (2, 5, t(10), 10.0)], schema
    )
    batch2 = spark.createDataFrame(
        [(3, None, t(11), 60.0), (4, None, t(12), 60.0)], schema
    )
    with tempfile.TemporaryDirectory() as out:
        scd2_upsert_batch(batch1, 0, out)
        scd2_upsert_batch(batch2, 1, out)
        _, data_dir = committed(out)
        final = spark.read.parquet(data_dir)
        expected = scd2_build(batch1.unionByName(batch2))

        def rows(df):  # None-tolerant sort (NULL user_id)
            return sorted(
                (
                    tuple(r)
                    for r in df.select(
                        "user_id", "tier", "valid_from", "valid_to",
                        "n_events", "version",
                    ).collect()
                ),
                key=str,
            )

        assert rows(final) == rows(expected)



def test_scd2_late_gate_null_ts_is_admitted(spark):
    """A NULL-ts event with a committed watermark must not vanish:
    `ts < wm` is NULL (not late) and `ts >= wm` is NULL (not
    admitted) — without the explicit isNull arm the event escaped
    BOTH branches (r6 ADVICE). NULL-ts rows are admitted, and the
    gate's conservation check (delivered == late + admitted) turns
    any future gate hole into a loud RuntimeError."""
    from datetime import datetime

    from stock_data_project_spark.streaming.pipeline import scd2_upsert_batch

    t = lambda h: datetime(2024, 1, 1, h)  # noqa: E731
    schema = "event_id long, user_id long, ts timestamp, value double"
    batch1 = spark.createDataFrame([(1, 7, t(12), 10.0)], schema)
    batch2 = spark.createDataFrame(
        [(2, 7, None, 60.0), (3, 7, t(13), 20.0)], schema
    )
    with tempfile.TemporaryDirectory() as root:
        out = os.path.join(root, "state")
        qdir = os.path.join(root, "q")
        os.makedirs(out)
        scd2_upsert_batch(batch1, 0, out, quarantine_dir=qdir)
        scd2_upsert_batch(batch2, 1, out, quarantine_dir=qdir)
        q1 = spark.read.parquet(os.path.join(qdir, "epoch_1"))
        assert q1.count() == 0  # NULL ts is NOT late
        _, data_dir = committed(out)
        final = spark.read.parquet(data_dir)
        # all three events survive into the dimension's run counts
        assert final.agg(F.sum("n_events")).collect()[0][0] == 3
        # and the incremental result equals the batch build over the
        # same (fully admitted) event set
        assert _sorted_rows(final) == _sorted_rows(
            scd2_build(batch1.unionByName(batch2))
        )
