"""Checkpoint policy knob (operators/ckpt.loop_checkpoint).

r13 verdict item 7: the iterative operators' per-round
localCheckpoint is local-mode-safe only — a lost executor kills the
loop because localCheckpoint blocks have no lineage. The knob
($SPARK_GRAFT_RELIABLE_CHECKPOINT=1) switches every loop site to
reliable checkpoint() without a rewrite. These tests pin BOTH modes:
identical results, and the reliable mode actually writes to the
checkpoint directory.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from stock_data_project_spark.operators import ckpt
from stock_data_project_spark.operators.dedup import dedup_clusters
from stock_data_project_spark.operators.graph import pagerank


def _chain_edges(spark, n=12):
    return spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n)] + [(n, 0, 1.0)],
        "src long, dst long, w double",
    )


def _pair_rows(spark):
    # two clusters: {1,2,3} via pair edges, {10, 11}
    return spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_id_a long, doc_id_b long"
    )


def test_loop_checkpoint_modes_identical(spark, monkeypatch):
    edges = _chain_edges(spark)
    pairs = _pair_rows(spark)

    monkeypatch.delenv(ckpt._ENV, raising=False)
    assert not ckpt.reliable_mode()
    pr_local = sorted(
        (r.node, r["rank"]) for r in pagerank(edges, iters=4).collect()
    )
    cc_local = sorted(
        tuple(r) for r in dedup_clusters(pairs).collect()
    )

    monkeypatch.setenv(ckpt._ENV, "1")
    assert ckpt.reliable_mode()
    pr_rel = sorted(
        (r.node, r["rank"]) for r in pagerank(edges, iters=4).collect()
    )
    cc_rel = sorted(
        tuple(r) for r in dedup_clusters(pairs).collect()
    )

    assert pr_rel == pr_local
    assert cc_rel == cc_local


def test_reliable_mode_writes_checkpoint_dir(spark, monkeypatch):
    monkeypatch.setenv(ckpt._ENV, "1")
    df = spark.createDataFrame([(1,), (2,)], "x long")
    out = ckpt.loop_checkpoint(df, eager=True)
    assert sorted(r.x for r in out.collect()) == [1, 2]
    jdir = spark.sparkContext._jsc.sc().getCheckpointDir()
    assert not jdir.isEmpty()
    path = jdir.get().replace("file:", "")
    assert os.path.isdir(path) and os.listdir(path)
    # no directory was configured, so the fallback sits under the
    # platform temp dir
    assert os.path.realpath(path).startswith(
        os.path.realpath(tempfile.gettempdir()) + os.sep
    )
    # and its files are deleted once their RDD is garbage-collected
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"


def test_local_mode_is_default(spark, monkeypatch):
    monkeypatch.delenv(ckpt._ENV, raising=False)
    df = spark.createDataFrame([(3,)], "x long")
    out = ckpt.loop_checkpoint(df, eager=True)
    # localCheckpoint never requires/uses the reliable checkpoint dir
    assert out.collect()[0].x == 3
