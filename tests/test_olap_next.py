"""The eight TPC-H shapes first staged together (q2, q8, q9, q11, q15,
q16, q20, q21) stay registered with an oracle in plans/olap.py. Their
parity compare runs in tests/test_oracle_parity.py and their plan
pins in tests/test_plan_snapshots.py."""

from __future__ import annotations

from stock_data_project_spark.plans import olap

PREBUILT_KEYS = {
    "tpch_q2",
    "tpch_q8",
    "tpch_q9",
    "tpch_q11",
    "tpch_q15",
    "tpch_q16",
    "tpch_q20",
    "tpch_q21",
}


def test_every_prebuilt_key_has_an_oracle():
    assert PREBUILT_KEYS <= set(olap.QUERIES)
    assert PREBUILT_KEYS <= set(olap.ORACLE)
