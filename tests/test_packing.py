"""Sequence packing: budget invariants, oversize handling, packing
density, and determinism under repartitioning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_data_project_spark.catalog import load_table
from stock_data_project_spark.operators import packing
from stock_data_project_spark.operators.packing import pack_sequences
from stock_data_project_spark.operators.sampling import hash_split
from stock_data_project_spark.operators.textops import with_token_counts
from tests.conftest import SF_ORACLE

# "val" gets no docs: its weight adds nothing to the cumulative cut
SPLITS = {"train": 0.6, "val": 0.0, "test": 0.4}


@pytest.fixture(scope="module")
def counted(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    return with_token_counts(docs).select(
        "doc_id", F.col("n_ws_tokens").alias("n_tokens")
    )


@pytest.fixture(scope="module")
def routed(counted):
    return hash_split(counted, SPLITS)


def test_pack_budget_and_coverage(spark, counted):
    budget = 512
    out = pack_sequences(counted, budget).cache()
    try:
        # every doc assigned exactly once
        assert out.count() == counted.count()
        assert out.select("doc_id").distinct().count() == counted.count()
        # non-oversize bins respect the budget
        sums = (
            out.filter(~F.col("oversize"))
            .groupBy("bin_id")
            .agg(F.sum("n_tokens").alias("t"))
        )
        assert sums.filter(F.col("t") > budget).count() == 0
        # oversize docs sit alone in their bin
        over_bins = out.filter(F.col("oversize")).select("bin_id")
        shared = out.join(over_bins, "bin_id").groupBy("bin_id").count()
        assert shared.filter(F.col("count") > 1).count() == 0
    finally:
        out.unpersist()


def test_pack_density(spark, counted):
    """FFD over hash groups should waste little capacity: total
    non-oversize bins stay within 25% of the volume lower bound."""
    budget = 512
    out = pack_sequences(counted, budget)
    stats = (
        out.filter(~F.col("oversize"))
        .agg(
            F.countDistinct("bin_id").alias("bins"),
            F.sum("n_tokens").alias("toks"),
        )
        .collect()[0]
    )
    lower_bound = -(-stats["toks"] // budget)  # ceil
    assert stats["bins"] <= 1.25 * lower_bound + 8, (stats["bins"], lower_bound)


def test_pack_deterministic_under_repartition(spark, counted):
    budget = 256
    a = {r["doc_id"]: r["bin_id"] for r in pack_sequences(counted, budget, num_groups=8).collect()}
    b = {
        r["doc_id"]: r["bin_id"]
        for r in pack_sequences(
            counted.repartition(13, "n_tokens"), budget, num_groups=8
        ).collect()
    }
    assert a == b


def test_pack_oversize_flagged(spark):
    df = spark.createDataFrame(
        [(1, 100), (2, 900), (3, 120), (4, 50)], "doc_id long, n_tokens long"
    )
    out = {r["doc_id"]: r for r in pack_sequences(df, 512, num_groups=1).collect()}
    assert out[2]["oversize"] is True
    assert all(not out[i]["oversize"] for i in (1, 3, 4))
    # the three small docs (270 total) fit one shared bin
    assert len({out[i]["bin_id"] for i in (1, 3, 4)}) == 1
    assert out[2]["bin_id"] not in {out[i]["bin_id"] for i in (1, 3, 4)}


def test_pack_single_exchange(spark, counted, routed):
    """One group exchange, keyed or not: packing every split of a
    keyed frame adds no exchange per key value."""
    for packed in (
        pack_sequences(counted, 512),
        pack_sequences(routed, 512, by=["split"]),
    ):
        plan = packed._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert plan.count("FlatMapGroupsInPandas") == 1, plan


@pytest.mark.parametrize("target_group_docs", [None, 3])
def test_pack_by_key_matches_per_key_packing(
    spark, routed, monkeypatch, target_group_docs
):
    """Packing all splits in one keyed pass gives every doc the bin
    (and oversize flag) that packing its split's rows alone gives —
    also when a low group target makes the splits' group counts
    differ, and for a split that received no docs."""
    if target_group_docs is not None:
        monkeypatch.setattr(packing, "_TARGET_GROUP_DOCS", target_group_docs)
    sizes = {r["split"]: r["count"] for r in routed.groupBy("split").count().collect()}
    assert set(sizes) == {"train", "test"}  # "val" got no docs
    if target_group_docs is not None:
        par = spark.sparkContext.defaultParallelism
        assert packing._auto_groups(sizes["train"], par) != packing._auto_groups(
            sizes["test"], par
        )
    budget = 128
    one_pass = pack_sequences(routed, budget, by=["split"]).collect()
    assert len(one_pass) == sum(sizes.values())
    for name in SPLITS:
        got = {
            (r["doc_id"], r["bin_id"], r["oversize"])
            for r in one_pass
            if r["split"] == name
        }
        want = {
            (r["doc_id"], r["bin_id"], r["oversize"])
            for r in pack_sequences(
                routed.filter(F.col("split") == name), budget
            ).collect()
        }
        assert got == want, name


def test_pack_auto_groups_scales_with_corpus(spark):
    """The default group count tracks corpus size (~100k docs per FFD
    kernel) instead of a constant — the fixed-default scale hazard
    class from the r2 IVF finding."""
    from stock_data_project_spark.operators.packing import _auto_groups

    assert _auto_groups(1_000, 32) == 32  # floor at parallelism
    assert _auto_groups(3_200_000, 32) == 32
    assert _auto_groups(10_000_000, 32) == 100
    assert _auto_groups(1_000_000_000, 32) == 10_000
