"""r8-built keys staged for the r9 window (llm_next5, stream_next5):
the SAME value-level DuckDB comparison the driver runs, plus each
key's semantic pins. The indicator and OLAP keys staged with them are
checked once by tests/test_oracle_parity.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_data_project_spark.plans import (
    indicators,
    llm_next5,
    olap,
    stream_next5,
)
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import assert_gradable_schema, compare, duckdb_run

# Keys staged here that now live in the domain modules; their
# parity runs in tests/test_oracle_parity.py.
MOVED_KEYS = {
    indicators: {
        "aroon",
        "cmf",
        "keltner",
    },
    olap: {
        "skew_salted_revenue",
        "order_gap_stats",
        "cumulative_distinct_users",
    },
}
ALL_Q = {
    **llm_next5.QUERIES_NEXT,
    **stream_next5.QUERIES_NEXT,
}
ALL_O = {
    **llm_next5.ORACLE_NEXT,
    **stream_next5.ORACLE_NEXT,
}


# the one deliberate rows-only key (DuckDB has no deflate); its
# semantics are pinned by test_doc_compression_ratio_* below
_ROWS_ONLY = {"doc_compression_ratio"}


def test_every_new_key_is_oracled_or_annotated():
    assert set(ALL_Q) - set(ALL_O) == _ROWS_ONLY
    for mod, keys in MOVED_KEYS.items():
        assert keys <= set(mod.QUERIES) & set(mod.ORACLE), mod.__name__


@pytest.mark.parametrize("key", sorted(set(ALL_Q) - _ROWS_ONLY))
def test_new_key_parity(spark, key):
    df = ALL_Q[key](spark, SF_ORACLE)
    assert_gradable_schema(df, key)
    assert df.count() > 0, f"{key}: empty result"
    compare(df, duckdb_run(ALL_O[key], SF_ORACLE))


def test_token_entropy_bounds_and_uniform_case(spark):
    """0 ≤ H ≤ ln(n_distinct) for every doc (equality at uniform);
    a synthetic all-distinct doc hits the upper bound exactly."""
    import math

    rows = ALL_Q["token_entropy"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        # 6dp rounding can sit half an ulp above the exact bound
        assert -1e-6 <= r.entropy <= math.log(max(r.n_distinct, 1)) + 1e-6
    import os
    import tempfile

    docs = spark.createDataFrame(
        [(1, "a b c d", "en", "src0", 7), (2, "x x x x", "en", "src0", 7)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        got = {r.doc_id: r for r in ALL_Q["token_entropy"](spark, d).collect()}
    assert abs(got[1].entropy - round(math.log(4), 6)) < 1e-9
    assert got[2].entropy == 0.0 and got[2].n_distinct == 1


def test_ann_range_search_matches_brute_force(spark):
    """Radius search returns EXACTLY the pairs at-or-above τ that
    exact cosine computes — no ranking truncation to hide behind."""
    from stock_data_project_spark.operators.similarity import cosine_topk

    got = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in ALL_Q["ann_range_search"](spark, SF_ORACLE).collect()
    }
    assert got
    # every returned sim respects the threshold
    assert all(s >= llm_next5._RANGE_TAU for s in got.values())
    # cross-check against cosine_topk on the same corpus: any top-k
    # pair at/above tau must be in the range result with the same sim
    from stock_data_project_spark.catalog import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    topk = cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).collect()
    for r in topk:
        if r.cosine_sim >= llm_next5._RANGE_TAU:
            assert got[(r.query_id, r.neighbor_id)] == r.cosine_sim


def test_quality_gate_keeps_top_fraction_per_source(spark):
    """Per-source keep counts honor the percentile (≈30% of docs,
    exact under percent_rank semantics), and the reported threshold
    is the min kept score."""
    rows = ALL_Q["quality_percentile_gate"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_kept <= r.n_docs
        # percent_rank >= 0.7 keeps ceil(0.3·(n-1)) + ... — bound it
        frac = r.n_kept / r.n_docs
        assert 0.2 <= frac <= 0.4, (r.source, frac)
        assert r.gate_threshold <= r.avg_kept_score


def test_aroon_extremes(spark):
    """A row that IS the window max has aroon_up = 100; monotone
    decreasing highs age the max: aroon_up falls by 100/n per row."""
    import os
    import tempfile

    from datetime import datetime, timezone

    n = indicators._AROON_N
    rows = [
        (i, datetime(2024, 1, 1 + i, tzinfo=timezone.utc), "s", 100.0 - i)
        for i in range(6)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    ).withColumn("user_id", F.lit(1)).withColumn("props", F.lit(None).cast("string"))
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        got = sorted(
            indicators.QUERIES["aroon"](spark, d).collect(), key=lambda r: r.date
        )
    for i, r in enumerate(got):
        # highs strictly decrease: the max is always the FIRST frame row
        assert abs(r.aroon_up - round((n - i) * 100.0 / n, 6)) < 1e-9
        # lows equal values here: the min is the CURRENT row
        assert r.aroon_down == 100.0


def test_keltner_band_symmetry_and_center(spark):
    rows = indicators.QUERIES["keltner"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows[:200]:
        assert r.kc_lower <= r.kc_center <= r.kc_upper
        assert abs((r.kc_upper - r.kc_center) - (r.kc_center - r.kc_lower)) < 1e-5


def test_cmf_bounded(spark):
    """CMF is a volume-weighted average of multipliers in [-1, 1]."""
    rows = indicators.QUERIES["cmf"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert -1.0 - 1e-9 <= r.cmf <= 1.0 + 1e-9


def test_stream_distinct_users_state_is_chained_and_exact(spark):
    """The streaming result equals the batch distinct count for every
    FINALIZED window (the in-order-feed recurrence), and open windows
    at the tail are withheld."""
    from stock_data_project_spark.catalog import load_table

    got = {
        r.window_start: r.n_users
        for r in ALL_Q["stream_distinct_users"](spark, SF_SMOKE).collect()
    }
    assert got
    ev = load_table(spark, SF_SMOKE, "events")
    batch = {
        r.h: r.n
        for r in ev.select(
            F.date_trunc("hour", "ts").alias("h"), "user_id"
        )
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for h, n in got.items():
        assert batch[h] == n
    # the final hours stay open (watermark 90min): batch has MORE keys
    assert len(batch) > len(got)


def test_bm25_monotone_in_tf_and_topn_shape(spark):
    """Synthetic corpus: with equal lengths, more query-term hits
    score strictly higher; rank is dense 1..N by (score desc, id)."""
    import os
    import tempfile

    docs = spark.createDataFrame(
        [
            (1, "hash join scan pad", "en", "s", 18),
            (2, "hash join pad pad", "en", "s", 17),
            (3, "hash pad pad pad", "en", "s", 16),
            (4, "pad pad pad pad", "en", "s", 15),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        rows = sorted(
            ALL_Q["bm25_rank"](spark, d).collect(), key=lambda r: r.rank
        )
    assert [r.doc_id for r in rows] == [1, 2, 3]  # doc 4 matches nothing
    assert rows[0].bm25 > rows[1].bm25 > rows[2].bm25 > 0
    assert [r.rank for r in rows] == [1, 2, 3]


def test_doc_compression_ratio_deterministic_and_pinned(spark):
    """Fixed zlib level ⇒ bit-identical ratios across runs AND
    partitionings; a repetitive text compresses far better than a
    high-entropy one, and the pinned values match direct zlib."""
    import os
    import tempfile
    import zlib

    rep = "spam " * 200
    rnd = "kq9x7z2vb4n8m1c5 " * 50  # still text, far less compressible
    docs = spark.createDataFrame(
        [(1, rep, "en", "s", len(rep)), (2, rnd, "en", "s", len(rnd)),
         (3, None, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        a = {r.doc_id: r for r in ALL_Q["doc_compression_ratio"](spark, d).collect()}
        b = {r.doc_id: r for r in ALL_Q["doc_compression_ratio"](spark, d).collect()}
    for doc, text in ((1, rep), (2, rnd)):
        want = round(
            len(zlib.compress(text.encode(), 6)) / len(text.encode()), 6
        )
        assert a[doc].compression_ratio == want == b[doc].compression_ratio
    assert a[1].compression_ratio < a[2].compression_ratio
    assert a[3].compression_ratio is None and a[3].n_bytes == 0


def test_pandas_crossing_new_keys_run_with_arrow_disabled(spark):
    """CLAUDE.md rule: every NEW pandas/createDataFrame-crossing key
    must run under a driver-like Arrow-off session before shipping."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert ALL_Q["ann_range_search"](spark, SF_SMOKE).count() > 0
        assert ALL_Q["stream_distinct_users"](spark, SF_SMOKE).count() > 0
        assert ALL_Q["doc_compression_ratio"](spark, SF_SMOKE).count() > 0
    finally:
        spark.conf.set(key, old)


def test_ngram_novelty_conservation_and_first_doc(spark):
    """Every shingle is novel for exactly one doc (its min-doc), so
    Σ n_novel == |distinct shingles|; the lowest doc_id with text has
    novelty exactly 1.0."""
    rows = ALL_Q["ngram_novelty"](spark, SF_ORACLE).collect()
    assert rows
    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.operators.dedup import word_shingles

    docs = load_table(spark, SF_ORACLE, "documents").filter(
        F.col("text").isNotNull()
    )
    n_distinct_shingles = (
        docs.select(F.explode(F.array_distinct(word_shingles("text", 8))))
        .distinct()
        .count()
    )
    assert sum(r.n_novel for r in rows) == n_distinct_shingles
    first = min(rows, key=lambda r: r.doc_id)
    assert first.novelty == 1.0


