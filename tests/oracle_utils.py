"""In-repo mirror of the driver's t2 correctness gate: run a Spark
plan and its DuckDB oracle SQL on the same sf_dir, compare row count,
column names (sorted), and values order-insensitively. Also the
scipy-free average-rank helper the rank-test replays share."""

from __future__ import annotations

import duckdb
import numpy as np  # _normalize handles numpy-array cells
import pandas as pd

from stock_data_project_spark.catalog import TABLES, table_path


def duckdb_run(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
    return con.sql(sql).df()


import datetime


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object and s.dropna().size and isinstance(
            s.dropna().iloc[0], (datetime.date, datetime.datetime)
        ):
            s = df[c] = pd.to_datetime(s)
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif s.dtype == object and len(s) and isinstance(s.dropna().iloc[0] if s.dropna().size else None, (list, np.ndarray)):
            df[c] = s.map(lambda v: tuple(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def compare(spark_df, oracle_df: pd.DataFrame) -> None:
    """Exact comparison after dtype normalization and row sort —
    the parity convention rounds floats identically on both engines,
    so no tolerance is needed (and a tolerance would be unsound with
    the row sort: near-equal sort keys could order differently)."""
    got = _normalize(spark_df.toPandas())
    want = _normalize(oracle_df)
    assert list(got.columns) == list(want.columns), (
        f"column mismatch: spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        assert g.equals(w), (
            f"value mismatch in column {c}:\n"
            f"spark head: {g.head(10).tolist()}\noracle head: {w.head(10).tolist()}"
        )
        if pd.api.types.is_float_dtype(g):
            # Driver-faithful: the canonicalizer hashes raw bytes, so
            # IEEE -0.0 vs +0.0 hash-mismatches even though == passes
            # (the williams_r r6 red row). Compare the sign bit at
            # exact zeros explicitly.
            ga, wa = g.to_numpy(np.float64), w.to_numpy(np.float64)
            gz = np.signbit(ga) & (ga == 0.0)
            wz = np.signbit(wa) & (wa == 0.0)
            bad = np.flatnonzero(gz != wz)
            assert bad.size == 0, (
                f"signed-zero mismatch in column {c} at rows "
                f"{bad[:5].tolist()}: spark {ga[bad[:5]].tolist()} vs "
                f"oracle {wa[bad[:5]].tolist()} (driver hashes the "
                f"sign bit; normalize with '+ 0.0' on both engines)"
            )


def assert_gradable_schema(df, key: str) -> None:
    """Driver-canonicalizer rule: graded outputs must be scalar
    columns — ARRAY/MAP cells can't be hashed and DATE dtypes
    normalize differently per engine (CLAUDE.md). One copy here so
    the rule can't diverge across the staged-key test families."""
    from pyspark.sql import types as T

    for f in df.schema.fields:
        assert not isinstance(
            f.dataType, (T.ArrayType, T.MapType, T.DateType)
        ), f"{key}.{f.name}: ungradable type {f.dataType}"


def avg_ranks(vals: np.ndarray) -> np.ndarray:
    """Average ranks with ties (1-based), scipy-free."""
    order = np.argsort(vals, kind="stable")
    ranks = np.empty(len(vals))
    sv = vals[order]
    pos = np.arange(1, len(sv) + 1, dtype=np.float64)
    i = 0
    while i < len(sv):
        j = i
        while j + 1 < len(sv) and sv[j + 1] == sv[i]:
            j += 1
        ranks[order[i : j + 1]] = pos[i : j + 1].mean()
        i = j + 1
    return ranks
