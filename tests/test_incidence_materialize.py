"""Input-size-driven materialization of the (order, part) incidence
frame (graph._order_part_incidence).

Below the threshold the frame is the plain lazy plan (recompute is
measured cheaper at test SF); above it, one eager localCheckpoint
(materialize measured ~1.8× faster at 18M replicated rows). The
switch must never change rows."""

from __future__ import annotations

import pytest
from conftest import SF_ORACLE

from stock_data_project_spark.plans import graph


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_incidence_lazy_below_threshold(spark):
    op = graph._order_part_incidence(spark, SF_ORACLE)
    # no checkpoint: the plan still carries the parquet scan
    assert "Scan parquet" in _plan(op)
    assert "ExistingRDD" not in _plan(op)


def test_incidence_materializes_above_threshold(spark, monkeypatch):
    monkeypatch.setattr(graph, "INCIDENCE_MATERIALIZE_ROWS", 1)
    op = graph._order_part_incidence(spark, SF_ORACLE)
    # checkpointed: downstream consumers read one materialization
    assert "ExistingRDD" in _plan(op)


def test_switch_never_changes_rows(spark, monkeypatch):
    lazy = graph._copurchase_edges(spark, SF_ORACLE)
    rows_lazy = sorted(map(tuple, lazy.collect()))
    monkeypatch.setattr(graph, "INCIDENCE_MATERIALIZE_ROWS", 1)
    mat = graph._copurchase_edges(spark, SF_ORACLE)
    rows_mat = sorted(map(tuple, mat.collect()))
    assert rows_lazy == rows_mat and rows_lazy
