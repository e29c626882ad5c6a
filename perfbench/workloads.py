"""The benchmark's workloads.

A workload is set up once per process and then yields rounds: fixed
lists of operations. Every round holds the same operation kinds in
the same numbers, so whole rounds keep every run's mix identical.
An ``Op`` has a timed ``run`` and an untimed ``check`` that compares
the run's result with a computation made apart from the program.
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import checks
import inputs


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], None]
    # "input": path the op must read (fresh-input guard);
    # "written": dir whose parquet files the op wrote
    info: dict = field(default_factory=dict)


def parquet_layout(path: str) -> tuple[int, int, int]:
    """(data files, bytes, rows) of the parquet files under ``path``."""
    files = [f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True) if os.path.isfile(f)]
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return len(files), sum(os.path.getsize(f) for f in files), rows


def _duck_star(con, star: str, table: str) -> pd.DataFrame:
    pattern = os.path.join(star, table, "**", "*.parquet")
    return con.sql(f"SELECT * FROM read_parquet('{pattern}', hive_partitioning = true)").df()


def _fresh_dir(ctx, name: str) -> str:
    path = os.path.join(ctx.work, "run", name)
    shutil.rmtree(path, ignore_errors=True)
    return path


# --- star_etl --------------------------------------------------------------


class StarEtl:
    """One op = ``run_daily_pipeline`` over the seeded drop, into a
    fresh output directory."""

    TICKERS, DAYS, BAD = 150, 756, 25
    min_rounds = 3

    def __init__(self, ctx):
        self.ctx = ctx
        drop_dir = os.path.join(ctx.work, "inputs", f"drop-{ctx.seed}-{self.TICKERS}x{self.DAYS}")
        with ctx.spans.span("inputs"):
            self.drop = inputs.stocks_drop(drop_dir, ctx.seed, self.TICKERS, self.DAYS, self.BAD)
            good, self.n_malformed = checks.parse_drop(self.drop["path"])
            self.want = checks.expected_star(good)
        self.rows = self.drop["rows"]

    def setup(self) -> None:
        pass

    def round(self, i: int) -> list[Op]:
        from stock_data_project_spark.operators.ingest import run_daily_pipeline

        out = _fresh_dir(self.ctx, f"star-{i}")

        def run():
            with self.ctx.spans.span("run_daily_pipeline"):
                run_daily_pipeline(self.ctx.spark, self.drop["path"], out)
            return out

        return [Op("star_etl", run, self.check, {"input": self.drop["path"], "written": os.path.join(out, "fact_market"), "cleanup": out})]

    def check(self, out: str) -> None:
        con = duckdb.connect()
        try:
            fact = _duck_star(con, out, "fact_market").sort_values(["series_key", "date"], ignore_index=True)
            entity = con.sql(f"SELECT * FROM read_parquet('{out}/dim_entity/*.parquet')").df()
            dim_date = con.sql(f"SELECT * FROM read_parquet('{out}/dim_date/*.parquet')").df()
        finally:
            con.close()
        checks.check_star(
            fact, entity, dim_date, self.want, self.rows, len(self.drop["bad"]), self.n_malformed
        )


# --- dashboard -------------------------------------------------------------

DASHBOARD_KEYS = (
    "filter_range",
    "ohlc_daily",
    "daily_return",
    "rolling_volatility",
    "top_movers",
    "weekly_bars",
    "annual_join",
    "dim_date",
    "dim_entity",
    "fact_build",
)


class Dashboard:
    """Short reads collected into the caller, over one snapshot: the
    stock plan queries over ``events``, and star reads (one ticker,
    a 91-day window, ordered by date) over the ``fact_market`` star
    that ``run_daily_pipeline`` writes during set-up."""

    EVENTS = 100_000
    TICKERS, DAYS, BAD = 150, 756, 25
    READS_PER_ROUND = len(DASHBOARD_KEYS)
    min_rounds = 1

    def __init__(self, ctx):
        self.ctx = ctx
        with ctx.spans.span("inputs"):
            self.base = inputs.base_tables(
                os.path.join(ctx.work, "inputs", f"events-{ctx.seed}-{self.EVENTS}"),
                ctx.seed,
                {"events": self.EVENTS},
            )
            self.drop = inputs.stocks_drop(
                os.path.join(ctx.work, "inputs", f"drop-{ctx.seed}-{self.TICKERS}x{self.DAYS}"),
                ctx.seed,
                self.TICKERS,
                self.DAYS,
                self.BAD,
            )
        self.star = _fresh_dir(ctx, "dashboard-star")
        self.oracle_cache: dict[str, pd.DataFrame] = {}

    def setup(self) -> None:
        """Build the star the star reads use (timed as set-up), then
        load what the checks compare against (untimed)."""
        from stock_data_project_spark.operators.ingest import run_daily_pipeline
        from stock_data_project_spark.plans import all_oracles

        with self.ctx.spans.span("run_daily_pipeline"):
            run_daily_pipeline(self.ctx.spark, self.drop["path"], self.star)
        with self.ctx.spans.span("inputs"):
            self.fact_glob = os.path.join(self.star, "fact_market", "**", "*.parquet")
            self.con = duckdb.connect()
            self.con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.base}/events.parquet')")
            self.con.sql(
                f"CREATE TABLE fact AS SELECT * FROM read_parquet('{self.fact_glob}', hive_partitioning = true)"
            )
            oracles = all_oracles()
            for k in DASHBOARD_KEYS:
                self.oracle_cache[k] = self.con.sql(oracles[k]).df()
            dates = self.con.sql("SELECT min(date) lo, max(date) hi FROM fact").fetchone()
            self.lo, self.hi = pd.Timestamp(dates[0]), pd.Timestamp(dates[1])
            self.star_layout = parquet_layout(os.path.join(self.star, "fact_market"))
            self.tickers = sorted(r[0] for r in self.con.sql("SELECT DISTINCT series_key FROM fact").fetchall())

    def round(self, i: int) -> list[Op]:
        from stock_data_project_spark.plans import all_queries

        rng = np.random.default_rng([self.ctx.seed, 4, i])
        queries = all_queries()
        ops = [self._query_op(k, queries[k]) for k in DASHBOARD_KEYS]
        span_days = (self.hi - self.lo).days - 91
        for _ in range(self.READS_PER_ROUND):
            ticker = self.tickers[int(rng.integers(len(self.tickers)))]
            start = self.lo + pd.Timedelta(days=int(rng.integers(span_days)))
            ops.append(self._read_op(ticker, start, start + pd.Timedelta(days=91)))
        return [ops[j] for j in rng.permutation(len(ops))]

    def _query_op(self, key: str, fn) -> Op:
        ctx = self.ctx

        def run():
            with ctx.spans.span("queries"):
                df = fn(ctx.spark, self.base)
            with ctx.spans.span("action"):
                return df.toPandas()

        def check(got: pd.DataFrame) -> None:
            checks.compare_frames(got, self.oracle_cache[key], key)

        return Op("query", run, check, {"input": self.base, "key": key})

    def _read_op(self, ticker: str, start: pd.Timestamp, end: pd.Timestamp) -> Op:
        from pyspark.sql import functions as F

        from stock_data_project_spark.sources.readers import read_parquet

        ctx, fact_dir = self.ctx, os.path.join(self.star, "fact_market")

        def run():
            with ctx.spans.span("action"):
                df = read_parquet(ctx.spark, fact_dir).filter(
                    (F.col("series_key") == ticker) & (F.col("date") >= start) & (F.col("date") < end)
                )
                return df.orderBy("date").toPandas()

        def check(got: pd.DataFrame) -> None:
            want = self.con.execute(
                "SELECT * FROM fact WHERE series_key = ? AND date >= ? AND date < ? ORDER BY date",
                [ticker, start.to_pydatetime(), end.to_pydatetime()],
            ).df()
            checks.compare_frames(got, want, f"star read {ticker}")
            if not pd.to_datetime(got["date"]).is_monotonic_increasing:
                checks._fail(f"star read {ticker}: rows not ordered by date")

        return Op("read", run, check, {"input": fact_dir})


# --- corpus ----------------------------------------------------------------

CORPUS_KEYS = ("doc_winnow", "embedding_kmeans")


class Corpus:
    """One op = one pass over a fresh snapshot (a seeded row sample of
    the base ``documents``/``embeddings``, written before the pass):
    ``build_training_corpus`` with its default gates, then each key in
    ``CORPUS_KEYS`` collected into the caller."""

    DOCS, VECS, FRAC = 500, 500, 0.95
    SPLITS, SEQ_BUDGET = {"train": 0.9, "val": 0.05, "test": 0.05}, 512
    min_rounds = 1

    def __init__(self, ctx):
        self.ctx = ctx
        with ctx.spans.span("inputs"):
            self.base = inputs.base_tables(
                os.path.join(ctx.work, "inputs", f"corpus-{ctx.seed}-{self.DOCS}x{self.VECS}"),
                ctx.seed,
                {"documents": self.DOCS, "embeddings": self.VECS},
            )

    def setup(self) -> None:
        pass

    def round(self, i: int) -> list[Op]:
        from stock_data_project_spark.catalog import load_table
        from stock_data_project_spark.corpus import build_training_corpus
        from stock_data_project_spark.plans import all_queries

        ctx = self.ctx
        with ctx.spans.span("inputs"):
            snap = inputs.snapshot(
                self.base, _fresh_dir(ctx, f"snap-{i:04d}"), ctx.seed, i, ["documents", "embeddings"], self.FRAC
            )
        out = os.path.join(snap, "corpus")
        queries = all_queries()

        def run():
            with ctx.spans.span("build_training_corpus"):
                stats = build_training_corpus(
                    ctx.spark, load_table(ctx.spark, snap, "documents"), out, splits=self.SPLITS,
                    seq_budget=self.SEQ_BUDGET,
                )
            got = {}
            for k in CORPUS_KEYS:
                with ctx.spans.span("queries"):
                    df = queries[k](ctx.spark, snap)
                with ctx.spans.span("action"):
                    got[k] = df.toPandas()
            return stats, got

        return [Op("corpus", run, lambda res: self.check(snap, out, *res), {"input": snap, "written": out, "cleanup": snap})]

    def check(self, snap: str, out: str, stats: dict, got: dict) -> None:
        from stock_data_project_spark.plans import all_oracles

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{snap}/{t}.parquet')")
            docs = con.sql("SELECT doc_id, text FROM documents").df()
            written = con.sql(
                f"SELECT * FROM read_parquet('{out}/**/*.parquet', hive_partitioning = true)"
            ).df()
            oracles = all_oracles()
            for k in CORPUS_KEYS:
                checks.compare_frames(got[k], con.sql(oracles[k]).df(), k)
        finally:
            con.close()
        checks.check_corpus(
            written, stats, checks.expected_corpus(docs), list(self.SPLITS), self.SEQ_BUDGET
        )


WORKLOADS = {"star_etl": StarEtl, "dashboard": Dashboard, "corpus": Corpus}
