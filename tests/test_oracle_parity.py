"""Every oracled query in the SURVEY §2 inventory must match its
DuckDB oracle at sf0.01 — the in-repo twin of the driver's t2 gate —
with a gradable (scalar, non-DATE) output schema and, so that parity
cannot hold vacuously, at least one row."""

from __future__ import annotations

import pytest

from stock_data_project_spark.plans import all_oracles, all_queries
from tests.conftest import SF_ORACLE
from tests.oracle_utils import assert_gradable_schema, compare, duckdb_run

ORACLED = sorted(all_oracles().keys())

# Anti-joins on customers without orders: every customer in the sf0.01
# fixture has an order, so these two return no rows there.
EMPTY_AT_SF_ORACLE = {"customers_no_orders", "tpch_q22"}


@pytest.mark.parametrize("key", ORACLED)
def test_oracle_parity(spark, key):
    df = all_queries()[key](spark, SF_ORACLE)
    assert_gradable_schema(df, key)
    want = duckdb_run(all_oracles()[key], SF_ORACLE)
    assert (len(want) == 0) == (key in EMPTY_AT_SF_ORACLE), (key, len(want))
    compare(df, want)


def test_all_queries_run(spark):
    """Rows-only keys (no oracle) at least execute and return a schema."""
    for key, q in all_queries().items():
        if key in all_oracles():
            continue
        df = q(spark, SF_ORACLE)
        assert df.columns
        assert df.count() >= 0, key
