"""r7-built keys staged for the r8 window (llm_next4 semantic_dedup,
stream_next4 stream_late_data): the SAME value-level DuckDB
comparison the driver runs, plus each key's semantic pins. The OLAP
keys staged with them are checked once by
tests/test_oracle_parity.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_data_project_spark.plans import (
    audits,
    llm_next4,
    olap,
    stream_next4,
)
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import assert_gradable_schema, compare, duckdb_run

# Keys staged here that now live in the domain modules; their
# parity runs in tests/test_oracle_parity.py.
MOVED_KEYS = {
    olap: {
        "conversion_lag",
        "funnel_attribution",
        "bloom_join_prune",
    },
    audits: {
        "skew_report",
    },
}
ALL_Q = {
    **llm_next4.QUERIES_NEXT,
    **stream_next4.QUERIES_NEXT,
}
ALL_O = {
    **llm_next4.ORACLE_NEXT,
    **stream_next4.ORACLE_NEXT,
}


def test_every_new_key_is_fully_oracled():
    assert set(ALL_Q) == set(ALL_O)
    for mod, keys in MOVED_KEYS.items():
        assert keys <= set(mod.QUERIES) & set(mod.ORACLE), mod.__name__


@pytest.mark.parametrize("key", sorted(ALL_Q))
def test_new_key_parity(spark, key):
    df = ALL_Q[key](spark, SF_ORACLE)
    assert_gradable_schema(df, key)
    assert df.count() > 0, f"{key}: empty result"
    compare(df, duckdb_run(ALL_O[key], SF_ORACLE))


def test_semantic_dedup_rep_is_member_and_counts_bound(spark):
    out = ALL_Q["semantic_dedup"](spark, SF_ORACLE).collect()
    assert out
    from stock_data_project_spark.catalog import load_table

    ids = {
        r.vec_id
        for r in load_table(spark, SF_ORACLE, "embeddings").select("vec_id").collect()
    }
    for r in out:
        assert r.rep_id in ids
        assert 0 <= r.n_dup < r.n_docs  # rep itself is never a dup
    # every valid vector lands in exactly one cell
    assert sum(r.n_docs for r in out) == len(ids)


def test_semantic_dedup_degrades_invalid_rows(spark):
    """NULL / ragged / zero-norm embeddings degrade PER-ROW (dropped
    from the cell population) instead of crashing the kernel — the
    linalg.to_matrix/unit_rows contract."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, -0.1, 0.0, 0.0]),
        (3, None),  # NULL embedding
        (4, [0.0, 0.0, 0.0, 0.0]),  # zero norm
        (5, [1.0]),  # ragged (wrong dim)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "embeddings.parquet"))
        out = ALL_Q["semantic_dedup"](spark, d).collect()
    # docs 1 and 2 share the sign-bit cell (bit 0 set); 3/4/5 are out
    assert sum(r.n_docs for r in out) == 2
    [cell] = out
    assert cell.rep_id in (1, 2) and cell.n_dup == 1  # cos(1,2) ≈ 0.994


def test_stream_late_data_excludes_heldback_rows(spark):
    """The sink's finalized windows exclude every withheld
    (~20-days-late) row: total emitted counts fall short of delivered
    rows by at least the held-back population (the remainder being
    the final still-open windows)."""
    out = ALL_Q["stream_late_data"](spark, SF_SMOKE).collect()
    from stock_data_project_spark.catalog import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    n_events = ev.count()
    n = ev.agg(F.max("event_id")).collect()[0][0] + 1
    b1 = n // 3
    held = ev.filter(
        (F.col("event_id") < b1)
        & (F.col("event_id") % stream_next4._SLD_MOD == 0)
    ).count()
    assert held > 0
    emitted = sum(r.n for r in out)
    assert n_events - emitted >= held
    # every finalized window is hour-aligned
    for r in out:
        assert r.window_start.minute == 0 and r.window_start.second == 0


def test_semantic_dedup_runs_with_arrow_disabled(spark):
    """CLAUDE.md rule: every NEW pandas-crossing key must run under a
    driver-like Arrow-off session before shipping."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert ALL_Q["semantic_dedup"](spark, SF_SMOKE).count() > 0
        assert ALL_Q["stream_late_data"](spark, SF_SMOKE).count() > 0
    finally:
        spark.conf.set(key, old)


