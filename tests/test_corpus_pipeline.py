"""End-to-end training-corpus builder: the composed gates must hold
simultaneously on the written output — unique content, no benchmark
leakage, split fractions, bin budgets — and the whole run must be
deterministic across re-runs."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from stock_data_project_spark.catalog import load_table
from stock_data_project_spark.corpus import build_training_corpus
from tests.conftest import SF_SMOKE, assert_one_file_per_partition

BUDGET = 256
SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}

# Spark jobs one build_training_corpus call over _inputs with SPLITS
# may run: 20 were measured with every split packed in one pass (one
# grouped count, one FFD exchange, one write); packing each split on
# its own (a count, a group-count job and an FFD exchange per split)
# ran 35.
JOB_BUDGET = 20


def _inputs(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    picked = docs.filter(F.col("doc_id").isin(11, 13)).select("text").collect()
    bench = spark.createDataFrame([(r["text"],) for r in picked], "text string")
    return docs, bench


def _build(spark, docs, bench, out):
    return build_training_corpus(
        spark,
        docs,
        out,
        benchmark=bench,
        splits=SPLITS,
        max_per_source=20,
        seq_budget=BUDGET,
    )


def _run(spark, tmp_path, name):
    docs, bench = _inputs(spark)
    out = str(tmp_path / name)
    return docs, out, _build(spark, docs, bench, out)


def test_all_gates_hold_on_the_written_corpus(spark, tmp_path):
    docs, out, stats = _run(spark, tmp_path, "corpus")
    written = spark.read.parquet(out)

    # stats agree with what landed on disk
    assert written.count() == stats["kept"] == sum(stats["per_split"].values())
    assert 0 < stats["kept"] < stats["input"]

    # partitioned layout by split
    assert {d for d in os.listdir(out) if d.startswith("split=")} == {
        "split=train",
        "split=val",
        "split=test",
    }

    # unique content survived dedup
    assert written.select("content_hash").distinct().count() == written.count()

    # benchmark docs (verbatim leaks) are gone
    assert written.filter(F.col("doc_id").isin(11, 13)).count() == 0

    # per-source cap respected within binomial slack (rate-based)
    per_src = written.groupBy("source").count().collect()
    assert max(r["count"] for r in per_src) <= 20 + 15

    # split fractions near the 80/10/10 request
    kept = stats["kept"]
    assert abs(stats["per_split"]["train"] / kept - 0.8) < 0.1

    # packing: every (split, bin_id) bin within budget unless
    # oversize (bin_id is namespaced per split — the bin key is the
    # pair, matching the one-split-at-a-time loader layout)
    bad_bins = (
        written.filter(~F.col("oversize"))
        .groupBy("split", "bin_id")
        .agg(F.sum("n_tokens").alias("tok"))
        .filter(F.col("tok") > BUDGET)
        .count()
    )
    assert bad_bins == 0


def test_one_packing_pass_one_file_per_split(spark, tmp_path, monkeypatch):
    """Every split is packed in ONE FFD exchange and written one file
    per split, inside a fixed job budget for the whole build."""
    import uuid

    from pyspark.sql.readwriter import DataFrameWriter

    handed = []
    real_parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        handed.append(self._df)
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    docs, bench = _inputs(spark)
    out = str(tmp_path / "one_pass")
    sc = spark.sparkContext
    group = f"corpus-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one build_training_corpus call")
    try:
        stats = _build(spark, docs, bench, out)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)

    assert assert_one_file_per_partition(out, ["split"]) == [
        f"split={name}" for name in sorted(SPLITS)
    ]
    assert stats["kept"] == spark.read.parquet(out).count()
    # the frame handed to the parquet writer runs one pandas kernel
    assert len(handed) == 1
    plan = handed[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert len(jobs) <= JOB_BUDGET, f"{len(jobs)} jobs"


def test_pipeline_is_deterministic(spark, tmp_path):
    _, out_a, stats_a = _run(spark, tmp_path, "a")
    _, out_b, stats_b = _run(spark, tmp_path, "b")
    assert stats_a == stats_b
    a = spark.read.parquet(out_a).select("doc_id", "split", "bin_id")
    b = spark.read.parquet(out_b).select("doc_id", "split", "bin_id")
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_optional_gates_compose_and_stay_deterministic(spark, tmp_path):
    """All four optional gates on at once: the written corpus must be
    PII-free, near-dup-free (one representative per cluster), above
    the LM-score floor, and bit-for-bit reproducible — composing
    gates is what exposed the correlated-hash-stream bug in r3, so
    the composition itself is the test."""
    import re

    from stock_data_project_spark.operators.dedup import (
        blocked_jaccard_pairs,
        dedup_clusters,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    # plant PII on a surviving doc to prove the scrub ran
    docs = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") == 0,
            F.concat(F.col("text"), F.lit(" contact bob@example.com now")),
        ).otherwise(F.col("text")),
    )
    kwargs = dict(
        splits={"train": 0.8, "val": 0.2},
        seq_budget=BUDGET,
        scrub_pii=True,
        drop_boilerplate_lines=True,
        near_dups=True,
        min_logprob=-9.0,
    )
    out1 = str(tmp_path / "opt1")
    stats1 = build_training_corpus(spark, docs, out1, **kwargs)
    written = spark.read.parquet(out1)

    texts = [r["text"] for r in written.select("text").collect()]
    assert texts, "corpus emptied out"
    assert not any(re.search(r"[\w.]+@[\w.]+", t) for t in texts)
    assert any("<EMAIL>" in t for t in texts if t)

    # no surviving near-dup pair: the written docs' own pair graph
    # must have no edges between two survivors
    pairs = blocked_jaccard_pairs(written.select("doc_id", "text", "lang", "n_chars"))
    assert pairs.count() == 0 or dedup_clusters(pairs).filter(
        "member_id != cluster_id"
    ).join(written.select("doc_id"), F.col("member_id") == F.col("doc_id")).count() == 0

    out2 = str(tmp_path / "opt2")
    stats2 = build_training_corpus(spark, docs, out2, **kwargs)
    assert stats1 == stats2
    a = spark.read.parquet(out1).orderBy("doc_id").collect()
    b = spark.read.parquet(out2).orderBy("doc_id").collect()
    assert a == b
