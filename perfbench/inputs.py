"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes: the same
seed writes byte-identical files. The program under test only ever
sees the files written here.

- ``stocks_drop``: one daily drop in the reference's Yahoo-Finance CSV
  layout (``Date,Ticker,Open,High,Low,Close,Adj Close,Volume``) with a
  seeded handful of malformed rows planted in it.
- ``base_tables``: sf0.1-shaped ``events``/``documents``/``embeddings``
  parquet tables with the same schemas and value distributions as the
  engine's test data (see README.md).
- ``snapshot``: a fresh seeded row sample of the base tables, written
  as new parquet files under a path no earlier pass used.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

NUMERIC_COLS = ["Open", "High", "Low", "Close", "Adj Close", "Volume"]
# tokens a spreadsheet export or a broken feed writes into a numeric
# cell; none parses as a double, so each makes its row malformed
BAD_TOKENS = ["N/A", "#VALUE!", "1.2.3", "nan%", "--"]

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark(path: str, meta: dict) -> None:
    with open(os.path.join(path, "_DONE"), "w") as f:
        json.dump(meta, f)


def _meta(path: str) -> dict:
    with open(os.path.join(path, "_DONE")) as f:
        return json.load(f)


def stocks_drop(
    out_dir: str, seed: int, n_tickers: int, n_days: int, n_bad: int
) -> dict:
    """Write ``out_dir/stocks.csv`` and return its description:
    ``{"path", "rows", "bad": [[ticker, date, column], ...]}``.

    Equity tickers trade on business days; one ticker in twenty is a
    crypto pair that trades every calendar day, so the date dimension
    holds weekend dates too. Each planted row replaces a real
    (ticker, date) row and carries one unparseable numeric cell.
    Cached by (seed, sizes) under ``out_dir``."""
    if _done(out_dir):
        return _meta(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    bdays = pd.bdate_range("2019-01-02", periods=n_days)
    cal = pd.date_range(bdays[0], bdays[-1])
    frames = []
    for i in range(n_tickers):
        crypto = i % 20 == 19
        dates = cal if crypto else bdays
        n = len(dates)
        drift, vol = rng.normal(0.0003, 0.0002), rng.uniform(0.01, 0.04)
        close = np.round(rng.uniform(5, 500) * np.exp(np.cumsum(rng.normal(drift, vol, n))), 4)
        open_ = np.round(close * (1 + rng.normal(0, 0.005, n)), 4)
        high = np.round(np.maximum(open_, close) * (1 + np.abs(rng.normal(0, 0.01, n))), 4)
        low = np.round(np.minimum(open_, close) * (1 - np.abs(rng.normal(0, 0.01, n))), 4)
        frames.append(
            pd.DataFrame(
                {
                    "Date": dates.strftime("%Y-%m-%d"),
                    "Ticker": f"C{i:03d}-USD" if crypto else f"T{i:04d}",
                    "Open": open_,
                    "High": high,
                    "Low": low,
                    "Close": close,
                    "Adj Close": np.round(close * rng.uniform(0.9, 1.0), 4),
                    "Volume": rng.integers(10_000, 10_000_000, n).astype(np.int64),
                }
            )
        )
    df = pd.concat(frames, ignore_index=True).sort_values(
        ["Date", "Ticker"], kind="stable", ignore_index=True
    )
    bad_idx = np.sort(rng.choice(len(df), size=n_bad, replace=False))
    bad_cols = rng.choice(NUMERIC_COLS, size=n_bad)
    bad_tok = rng.choice(BAD_TOKENS, size=n_bad)
    df = df.astype({c: object for c in NUMERIC_COLS})
    for idx, col, tok in zip(bad_idx, bad_cols, bad_tok):
        df.at[idx, col] = str(tok)
    path = os.path.join(out_dir, "stocks.csv")
    df.to_csv(path, index=False)
    meta = {
        "path": path,
        "rows": len(df),
        "bad": [[df.at[i, "Ticker"], df.at[i, "Date"], str(c)] for i, c in zip(bad_idx, bad_cols)],
    }
    _mark(out_dir, meta)
    return meta


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word-salad docs over a 30-word vocabulary; one doc in
    twenty is an earlier doc with `` dup`` appended (a near-duplicate),
    and a few are exact copies of an earlier doc."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.normal(size=(n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def base_tables(out_dir: str, seed: int, sizes: dict[str, int]) -> str:
    """Write the base tables named in ``sizes`` (table -> rows) as
    ``out_dir/<table>.parquet``; cached by seed and sizes."""
    if _done(out_dir):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    makers = {"events": _events, "documents": _documents, "embeddings": _embeddings}
    for i, (name, n) in enumerate(sorted(sizes.items())):
        rng = np.random.default_rng([seed, 2, i])
        pq.write_table(makers[name](rng, n), os.path.join(out_dir, f"{name}.parquet"))
    _mark(out_dir, {"sizes": sizes})
    return out_dir


def snapshot(base_dir: str, out_dir: str, seed: int, index: int, tables: list[str], frac: float) -> str:
    """Write a seeded ``frac`` row sample of each base table to a new
    directory. Fails if ``out_dir`` already exists: no two passes may
    share a snapshot path."""
    os.makedirs(out_dir)
    rng = np.random.default_rng([seed, 3, index])
    for name in tables:
        t = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        keep = np.flatnonzero(rng.random(t.num_rows) < frac)
        pq.write_table(t.take(pa.array(keep)), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
