"""Invariant pins for the data-quality gates of plans/audits.py: the
expectation gate, skew report and MAD outlier identities. The
winsorized / KS / Gini / Benford / chi² / Welch / Kruskal-Wallis /
Mann-Whitney / ANOVA / Herfindahl / mutual-information replays stay
in tests/test_next8..12_staged.py under their names. Value parity of every key,
its graded schema and a non-empty result are ``test_oracle_parity``
at sf0.01; the sf0.001 compares kept here reach cases sf0.01 does
not."""

from __future__ import annotations

import numpy as np
import pytest

from stock_data_project_spark.plans import audits
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import assert_gradable_schema, compare, duckdb_run


def test_every_key_is_oracled():
    assert set(audits.QUERIES) == set(audits.ORACLE)


# Each key's sf0.001 oracle holds a case its sf0.01 oracle does not;
# the lambda asserts the case is still there, so a regenerated fixture
# that loses it fails here instead of silently dropping the coverage.
SMOKE_ONLY_CASES = {
    # negative t: a segment pair whose first mean is the smaller one
    # (every sf0.01 pair has t_stat > 0)
    "welch_ttest": lambda want: (want["t_stat"] < 0).any(),
    # negative z: the same sign flip for the rank-sum test
    "mann_whitney_u": lambda want: (want["z_stat"] < 0).any(),
}


@pytest.mark.parametrize("key", sorted(SMOKE_ONLY_CASES))
def test_smoke_scale_parity(spark, key):
    df = audits.QUERIES[key](spark, SF_SMOKE)
    assert_gradable_schema(df, key)
    want = duckdb_run(audits.ORACLE[key], SF_SMOKE)
    assert SMOKE_ONLY_CASES[key](want), f"{key}: the sf0.001-only case is gone"
    compare(df, want)


def test_expectation_gate_clean_data_passes(spark):
    """The generated TPC-H data satisfies every rule — the gate's
    zero-violation report is itself the assertion (a rule regression
    would show up as a nonzero count here before the driver sees
    it)."""
    rows = audits.QUERIES["expectation_gate"](spark, SF_ORACLE).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["n_violations"] == 0, (r["rule"], r["n_violations"])
        assert r["n_rows"] > 0


def test_skew_report_topk_is_takeordered_and_total(spark):
    """The global top-K must compile to TakeOrderedAndProject
    (per-partition local top-K + driver merge), never a
    single-partition window sort; and the report's two parts must
    agree (every top key's fanout appears in the histogram)."""
    df = audits.QUERIES["skew_report"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan
    rows = df.collect()
    hist = {r.k: r.v for r in rows if r.kind == "fanout_hist"}
    tops = [r for r in rows if r.kind == "top_key"]
    from stock_data_project_spark.plans.audits import _SKEW_TOPK

    assert len(tops) == _SKEW_TOPK
    for t in tops:
        assert t.v in hist  # the top key's fanout is a histogram bin
    # top keys are the global maxima: no histogram bin above them
    assert max(hist) == max(t.v for t in tops)


def test_mad_outliers_matches_pandas_median(spark):
    pdf = audits.q_mad_outliers(spark, SF_ORACLE).toPandas()
    ev = duckdb_run(
        """SELECT event_type, date_trunc('week', ts) AS week, value
           FROM events""",
        SF_ORACLE,
    )
    for _, row in pdf.head(5).iterrows():
        grp = ev[(ev["event_type"] == row["event_type"]) & (ev["week"] == row["week"])]
        med = float(np.median(grp["value"]))
        assert abs(row["median_value"] - round(med, 6)) < 1e-9
        mad = float(np.median(np.abs(grp["value"] - med)))
        assert abs(row["mad"] - round(mad, 6)) < 1e-9
        n_out = int((np.abs(grp["value"] - med) > 3.0 * mad).sum())
        assert row["n_outliers"] == n_out
