"""The seven indicator keys first staged together (atr, stochastic, obv,
donchian, zscore_anomaly, pivot_points, vwap) stay registered with an
oracle in plans/indicators.py. Their parity compare runs in
tests/test_oracle_parity.py and their invariant pins in
tests/test_indicators.py."""

from __future__ import annotations

from stock_data_project_spark.plans import indicators

STAGED_KEYS = {
    "atr",
    "stochastic",
    "obv",
    "donchian",
    "zscore_anomaly",
    "pivot_points",
    "vwap",
}


def test_every_staged_key_has_an_oracle():
    assert STAGED_KEYS <= set(indicators.QUERIES)
    assert STAGED_KEYS <= set(indicators.ORACLE)
