"""r10-close keys staged for the r13 window (llm_next13
minhash_recall_eval): driver-identical parity plus independent pins —
the planted-construction arithmetic asserted from first principles,
and a negative control proving the minhash grade detects broken
banding. The changepoint/lead-lag pins live in
tests/test_statistics.py."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from stock_data_project_spark.plans import llm_next13
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import assert_gradable_schema, compare, duckdb_run


def test_next13_keys_are_oracled():
    assert set(llm_next13.QUERIES_NEXT) == set(llm_next13.ORACLE_NEXT)


@pytest.mark.parametrize("key", sorted(llm_next13.QUERIES_NEXT))
def test_llm_next13_parity(spark, key):
    for sf in (SF_SMOKE, SF_ORACLE):
        df = llm_next13.QUERIES_NEXT[key](spark, sf)
        assert_gradable_schema(df, key)
        assert df.count() > 0
        compare(df, duckdb_run(llm_next13.ORACLE_NEXT[key], sf))


def test_minhash_recall_planted_arithmetic(spark):
    """First-principles pin: every complete 5-group with a non-NULL
    anchor text appears with exactly 10 pairs, pair_id_sum
    100·gid+40, and both estimates exactly 1.0; no other gid
    appears."""
    from stock_data_project_spark.catalog import load_table

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    rows = docs.collect()
    n_docs = len(rows)
    anchor_text = {
        row.doc_id // 5: row.text for row in rows if row.doc_id % 5 == 0
    }
    counts: dict[int, int] = {}
    for row in rows:
        counts[row.doc_id // 5] = counts.get(row.doc_id // 5, 0) + 1
    eligible = {
        g
        for g, c in counts.items()
        if c == 5 and anchor_text.get(g) is not None
    }
    got = {
        r.gid: r
        for r in llm_next13.q_minhash_recall_eval(spark, SF_ORACLE).collect()
    }
    assert set(got) == eligible
    assert n_docs > 0 and eligible
    for g, r in got.items():
        assert r.n_pairs == 10
        assert r.pair_id_sum == 100 * g + 40
        assert r.min_est == 1.0 and r.max_est == 1.0


def test_minhash_recall_negative_control(spark):
    """The grade must DETECT a broken pipeline: searching the raw
    (non-planted) corpus with the same within-group filter cannot
    reproduce the planted pair counts for every eligible group."""
    from stock_data_project_spark.operators.dedup import minhash_candidates
    from stock_data_project_spark.catalog import load_table

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    pairs = minhash_candidates(docs, collapse_exact=False)
    same_g = pairs.filter(F.expr("doc_id_a DIV 5") == F.expr("doc_id_b DIV 5"))
    broken = (
        same_g.groupBy(F.expr("doc_id_a DIV 5").alias("gid"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .filter(F.col("n_pairs") == 10)
        .count()
    )
    oracle_groups = duckdb_run(
        llm_next13.ORACLE_NEXT["minhash_recall_eval"], SF_ORACLE
    ).shape[0]
    assert broken < oracle_groups


def test_minhash_recall_null_anchor_group_excluded(spark):
    """The NULL-anchor filter is load-bearing: word_shingles' short-doc
    fallback signs even NULL texts ([''] — concat_ws skips NULLs), so
    WITHOUT the explicit exclusion a NULL-anchor group would collide in
    every band and emit pairs. Synthetic frame: gid 0 anchored by NULL,
    gid 1 by real text — only gid 1 may appear."""
    from stock_data_project_spark.plans.llm_next13 import minhash_recall_over

    rows = [
        (i, None if i // 5 == 0 else "the quick brown fox jumps the dog")
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.gid: r for r in minhash_recall_over(docs).collect()}
    assert set(got) == {1}
    assert got[1].n_pairs == 10
    assert got[1].pair_id_sum == 100 * 1 + 40
    assert got[1].min_est == 1.0 and got[1].max_est == 1.0


def test_minhash_recall_incomplete_tail_groups_excluded(spark):
    """A corpus whose size is not a multiple of the group size must
    grade only the COMPLETE groups — the tail group (and any group
    with a gap) emits nothing."""
    from stock_data_project_spark.plans.llm_next13 import minhash_recall_over

    texts = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"{texts} doc body {i // 5}") for i in range(12)]  # tail: 10,11
    rows = [r for r in rows if r[0] != 7]  # puncture group 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.gid: r for r in minhash_recall_over(docs).collect()}
    assert set(got) == {0}  # group 1 punctured, group 2 incomplete
    assert got[0].n_pairs == 10 and got[0].pair_id_sum == 40
