"""Slowly-changing-dimension (type 2) building blocks — ONE shared
implementation for the batch plan (plans/olap.scd2_dim) and the
streaming incremental maintainer (streaming/pipeline
.run_incremental_scd2), per the repo's single-implementation rule
(the unigram scorer / ADC kernel precedent: two copies of island
logic WILL drift).

The decomposition that makes SCD2 incrementally maintainable:

- ``scd2_runs`` — collapse events into RUNS (user, tier, valid_from,
  n_events): consecutive same-tier events per user, via the lag-flag
  running island id (one hash exchange on the user key).
- ``merge_runs`` — coalesce ADJACENT same-tier runs (same island
  algorithm applied to runs instead of events) and emit the final
  versions: valid_to chained to the next version's valid_from,
  row_number versioning, NULL-open current version.

In batch, runs are already maximal so merge_runs' coalesce is the
identity and the composition equals the direct build. Incrementally,
a micro-batch BOUNDARY can split a run in half — the committed state
ends with an open run and the new batch begins with a same-tier run
— and merge_runs is exactly the associative repair: union the old
runs with the new batch's runs and re-coalesce. That is the
mergeable-partial-state trick of streaming/pipeline.mergeable_bars
applied to validity intervals.

Correctness contract for incremental use: per-user event time must
be non-decreasing ACROSS batches (an append-only event log split on
time — the test splits drops by global ts). Late data that
interleaves a closed interval needs a rebuild of that user from
events — the same caveat every SCD2 MERGE pipeline carries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TIER_WIDTH = 50.0


def tier_of(value_col: str = "value") -> Column:
    """The demo dimension attribute: value bucketed to tiers of 50.
    (Any deterministic row-local expression works; the machinery is
    the operator.)"""
    return F.floor(F.col(value_col) / TIER_WIDTH).cast("int")


def scd2_runs(
    events: DataFrame,
    tier: Column | None = None,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Events → maximal same-tier runs per key:
    ``(key, tier, valid_from, n_events)``."""
    w = Window.partitionBy(key_col).orderBy(ts_col, order_tiebreak)
    wr = w.rowsBetween(Window.unboundedPreceding, 0)
    df = events.withColumn("tier", tier if tier is not None else tier_of())
    change = F.when(
        F.lag("tier").over(w).isNull()
        | (F.col("tier") != F.lag("tier").over(w)),
        1,
    ).otherwise(0)
    runs = df.withColumn("island", F.sum(change).over(wr))
    return runs.groupBy(key_col, "island", "tier").agg(
        F.min(ts_col).alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
        # per-run high watermark: max event ts. The open run's
        # last_ts is the user's ingest watermark — what the late-data
        # gate (streaming/pipeline.scd2_upsert_batch gated path)
        # compares incoming events against. valid_from alone cannot
        # serve: events between the open run's start and its last
        # event would pass a valid_from check yet still interleave
        # committed history.
        F.max(ts_col).alias("last_ts"),
    )


def merge_runs(runs: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Runs → SCD2 versions: coalesce adjacent same-tier runs, chain
    valid_to, number versions. ``island`` (if present) tie-breaks
    equal valid_from deterministically (same-ts islands — the r5
    review finding); merged runs re-derive their own island ids so
    input islands never need to be globally consistent."""
    order = ["valid_from"] + (["island"] if "island" in runs.columns else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    wr = w.rowsBetween(Window.unboundedPreceding, 0)
    change = F.when(
        F.lag("tier").over(w).isNull()
        | (F.col("tier") != F.lag("tier").over(w)),
        1,
    ).otherwise(0)
    has_wm = "last_ts" in runs.columns
    aggs = [
        F.min("valid_from").alias("valid_from"),
        F.sum("n_events").alias("n_events"),
    ]
    if has_wm:
        aggs.append(F.max("last_ts").alias("last_ts"))
    coalesced = (
        runs.withColumn("_mi", F.sum(change).over(wr))
        .groupBy(key_col, "_mi", "tier")
        .agg(*aggs)
    )
    wv = Window.partitionBy(key_col).orderBy("valid_from", "_mi")
    return coalesced.select(
        key_col,
        "tier",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_events",
        F.row_number().over(wv).alias("version"),
        *(["last_ts"] if has_wm else []),
    )


def scd2_build(events: DataFrame, tier: Column | None = None) -> DataFrame:
    """The batch build: runs + merge (merge is the identity here —
    events-level runs are already maximal). ``last_ts`` is internal
    maintainer state — dropped from the graded dimension schema."""
    return merge_runs(scd2_runs(events, tier)).drop("last_ts")
