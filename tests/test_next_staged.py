"""Staged r5 streaming keys: the SAME value-level DuckDB comparison
the driver runs (see plans/stream_next.py for the window timing). The
OLAP keys staged with them live in plans/olap.py; their parity runs
in tests/test_oracle_parity.py and their pins in tests/test_olap.py."""

from __future__ import annotations

import pytest

from stock_data_project_spark.plans import olap, stream_next
from tests.conftest import SF_ORACLE
from tests.oracle_utils import assert_gradable_schema, compare, duckdb_run

OLAP_KEYS = {
    "grouping_sets_sales",
    "revenue_share",
    "monthly_running_revenue",
    "range_join_clicks",
    "props_variant",
    "hll_rollup",
}
ROWS_ONLY = {"hll_rollup"}  # sketch estimates have no DuckDB twin


def test_every_staged_key_has_an_oracle():
    assert set(stream_next.QUERIES_NEXT) == set(stream_next.ORACLE_NEXT)
    assert OLAP_KEYS <= set(olap.QUERIES)
    assert OLAP_KEYS - ROWS_ONLY <= set(olap.ORACLE)


@pytest.mark.parametrize("key", sorted(stream_next.QUERIES_NEXT))
def test_staged_parity(spark, key):
    df = stream_next.QUERIES_NEXT[key](spark, SF_ORACLE)
    assert_gradable_schema(df, key)
    assert df.count() > 0, f"{key}: empty result"
    compare(df, duckdb_run(stream_next.ORACLE_NEXT[key], SF_ORACLE))
