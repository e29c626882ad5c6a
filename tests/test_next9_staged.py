"""Keys staged for the r11 window (llm_next9, stream_next8):
driver-identical parity plus per-operator semantic pins. The
ultimate_oscillator / vortex / ichimoku / heikin_ashi / parabolic_sar
pins live in tests/test_indicators.py. The kcore / item_similarity
pins test plans/graph.py and the ks / gini / benford / chi² pins
plans/audits.py."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import assert_gradable_schema, compare, duckdb_run


# ------------------------------------------------------------ indicators

from stock_data_project_spark.plans import indicators  # noqa: E402

STOCK7_KEYS = {
    "ultimate_oscillator",
    "vortex",
    "ichimoku",
    "heikin_ashi",
    "parabolic_sar",
}


def test_stock7_keys_are_oracled():
    assert STOCK7_KEYS <= set(indicators.QUERIES)
    assert STOCK7_KEYS <= set(indicators.ORACLE)


# ------------------------------------------------------------- llm_next9

from stock_data_project_spark.plans import llm_next9  # noqa: E402


def test_llm9_keys_are_oracled():
    assert set(llm_next9.QUERIES_NEXT) == set(llm_next9.ORACLE_NEXT)


@pytest.mark.parametrize("key", sorted(llm_next9.QUERIES_NEXT))
def test_llm9_parity(spark, key):
    df = llm_next9.QUERIES_NEXT[key](spark, SF_ORACLE)
    assert_gradable_schema(df, key)
    assert df.count() > 0
    compare(df, duckdb_run(llm_next9.ORACLE_NEXT[key], SF_ORACLE))


def test_kmeans_partitions_all_vectors(spark):
    """Cluster sizes sum to the corpus size and every cluster is
    keyed 0..k-1 (init ids exist, so no cluster can vanish — empty
    clusters keep their centroid but sizes come from assignment)."""
    import pyspark.sql.functions as F

    from stock_data_project_spark.catalog import load_table

    out = llm_next9.q_embedding_kmeans(spark, SF_SMOKE).collect()
    n = load_table(spark, SF_SMOKE, "embeddings").count()
    assert sum(r.n_members for r in out) == n
    assert {r.cluster for r in out} <= set(range(llm_next9._K))
    for r in out:
        assert r.inertia >= 0 and r.avg_dist >= 0


def test_kmeans_rounds_do_not_increase_inertia(spark):
    """Lloyd's algorithm monotonically decreases total inertia —
    verified on the EXACT decimal trajectory by re-running with
    R=1..3 (the rounding perturbs each step but assignment is argmin
    vs the centroids that produced it, so the classic proof holds
    between round r's distances and round r+1's)."""
    import stock_data_project_spark.plans.llm_next9 as m

    totals = []
    orig = m._ROUNDS
    try:
        for rounds in (1, 2, 3):
            m._ROUNDS = rounds
            out = m.q_embedding_kmeans(spark, SF_SMOKE).collect()
            totals.append(sum(float(r.inertia) for r in out))
    finally:
        m._ROUNDS = orig
    assert totals[0] >= totals[1] - 1e-6
    assert totals[1] >= totals[2] - 1e-6


def test_quality_classifier_weights_cover_both_signs(spark):
    """The deterministic weight table must yield both keep=1 and
    keep=0 docs (a degenerate all-one-sign scorer would grade but
    test nothing)."""
    import pyspark.sql.functions as F

    df = llm_next9.q_quality_classifier(spark, SF_SMOKE)
    keeps = {r.keep for r in df.select("keep").distinct().collect()}
    assert keeps == {0, 1}


def test_quality_classifier_token_counts_match_token_count_key(spark):
    """n_tokens agrees with the documents' whitespace tokenization
    (same normalized() path as token_count)."""
    import pyspark.sql.functions as F

    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.operators.textops import words

    docs = load_table(spark, SF_SMOKE, "documents")
    want = (
        docs.select(
            "doc_id",
            F.size(F.filter(words("text"), lambda w: w != "")).alias("n"),
        )
        .filter(F.col("n") > 0)
    )
    got = llm_next9.q_quality_classifier(spark, SF_SMOKE).select(
        "doc_id", "n_tokens"
    )
    diff = got.join(want, "doc_id").filter(F.col("n_tokens") != F.col("n")).count()
    assert diff == 0
    assert got.count() == want.count()


# ----------------------------------------------------------------- graph

from stock_data_project_spark.plans import graph  # noqa: E402

OLAP9_KEYS = {"kcore_decomposition", "item_similarity"}


def test_olap9_keys_are_oracled():
    assert OLAP9_KEYS <= set(graph.QUERIES)
    assert OLAP9_KEYS <= set(graph.ORACLE)


def _simulate_kcore(edges, k, rounds):
    import collections

    E = set(edges)
    for _ in range(rounds):
        deg = collections.Counter()
        for a, b in E:
            deg[a] += 1
            deg[b] += 1
        keep = {n for n, c in deg.items() if c >= k}
        E2 = {(a, b) for a, b in E if a in keep and b in keep}
        if E2 == E:
            break
        E = E2
    deg = collections.Counter()
    for a, b in E:
        deg[a] += 1
        deg[b] += 1
    return dict(deg)


@pytest.mark.parametrize("sf", [SF_SMOKE, SF_ORACLE])
def test_kcore_matches_python_simulation(spark, sf):
    """The graded R-round peel equals an independent in-memory
    simulation — robust to testdata regeneration (no fixpoint claim
    needed; both bound at R identically)."""
    edges = [
        (r.a, r.b)
        for r in graph._copurchase_edges(spark, sf).select("a", "b").collect()
    ]
    want = _simulate_kcore(edges, graph._K, graph._ROUNDS)
    got = {
        r.node: r.degree
        for r in graph.q_kcore_decomposition(spark, sf).collect()
    }
    assert got == want


def test_kcore_peels_crafted_chain_off_clique(spark):
    """A 4-clique with a pendant chain: the 2-core is exactly the
    clique (chain peels one node per round — exercises multi-round
    convergence and the early-exit)."""
    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    chain = [(4, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + chain, "a long, b long")
    import stock_data_project_spark.plans.graph as m

    orig = m._copurchase_edges
    m._copurchase_edges = lambda s, d: edges.withColumn(
        "support", edges.a * 0 + 2
    )
    try:
        got = {r.node: r.degree for r in m.q_kcore_decomposition(spark, "x").collect()}
    finally:
        m._copurchase_edges = orig
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_item_similarity_bounds_and_symmetric_df(spark):
    """jaccard in (0, 1]; support <= min(df_a, df_b)."""
    import pyspark.sql.functions as F

    df = graph.q_item_similarity(spark, SF_SMOKE)
    assert df.filter((F.col("jaccard") <= 0) | (F.col("jaccard") > 1)).count() == 0
    assert df.filter(
        F.col("support") > F.least("df_a", "df_b")
    ).count() == 0


# ----------------------------------------------------------- stream_next8

from stock_data_project_spark.plans import stream_next8  # noqa: E402


def test_stream8_key_is_oracled():
    assert set(stream_next8.QUERIES_NEXT) == set(stream_next8.ORACLE_NEXT)


def test_stream_left_join_parity(spark):
    df = stream_next8.stream_left_join(spark, SF_ORACLE)
    assert_gradable_schema(df, "stream_left_join")
    assert df.count() > 0
    compare(df, duckdb_run(stream_next8.ORACLE_NEXT["stream_left_join"], SF_ORACLE))


def test_stream_left_join_null_rows_respect_horizon(spark):
    """Every null-extended view sits strictly below the final
    watermark horizon; every unmatched view above it is withheld —
    and no view's expiry TIES the ms-truncated watermark (the
    measure-zero assumption the strict-< oracle relies on)."""
    import duckdb

    import pyspark.sql.functions as F

    for sf in (SF_SMOKE, SF_ORACLE):
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{sf}/events.parquet')"
        )
        (n_ties,) = con.sql(
            f"""
            WITH fwm AS (
                SELECT least(
                    (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events
                     WHERE event_type = 'view'),
                    (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events
                     WHERE event_type = 'click')
                ) - CAST({stream_next8._SLJ_DELAY_US} AS BIGINT) AS wm
            )
            SELECT count(*) FROM events, fwm
            WHERE event_type = 'view'
              AND epoch_us(ts) + {stream_next8._SLJ_INTERVAL_US} = fwm.wm
            """
        ).fetchone()
        assert n_ties == 0, (sf, n_ties)

    out = stream_next8.stream_left_join(spark, SF_SMOKE)
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/events.parquet')"
    )
    (wm_us,) = con.sql(
        f"""SELECT least(
            (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events
             WHERE event_type = 'view'),
            (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events
             WHERE event_type = 'click')
        ) - CAST({stream_next8._SLJ_DELAY_US} AS BIGINT)"""
    ).fetchone()
    nulls = out.filter(F.col("click_id").isNull())
    above = nulls.filter(
        F.unix_micros("view_ts") + stream_next8._SLJ_INTERVAL_US >= wm_us
    ).count()
    assert above == 0


# ---------------------------------- embedding_outliers / source_mix_report


@pytest.mark.parametrize("key", ["embedding_outliers", "source_mix_report"])
def test_llm9b_parity(spark, key):
    df = llm_next9.QUERIES_NEXT[key](spark, SF_ORACLE)
    assert_gradable_schema(df, key)
    assert df.count() > 0
    compare(df, duckdb_run(llm_next9.ORACLE_NEXT[key], SF_ORACLE))


def test_outliers_are_the_far_tail(spark):
    """Every flagged vector's dist strictly exceeds its cluster mean
    (by the 1.05 factor), and the flagged set is a minority."""
    import pyspark.sql.functions as F

    out = llm_next9.q_embedding_outliers(spark, SF_SMOKE)
    n_out = out.count()
    assert 0 < n_out
    from stock_data_project_spark.catalog import load_table

    n = load_table(spark, SF_SMOKE, "embeddings").count()
    assert n_out < 0.25 * n
    bad = out.filter(F.col("dist") <= F.col("cluster_mean_dist")).count()
    assert bad == 0


def test_source_mix_shares_sum_to_one(spark):
    """Token shares are exact-integer roundings of n_tokens/total —
    their sum is 1 ± 20·5e-7 (one rounding step per source)."""
    import pyspark.sql.functions as F

    df = llm_next9.q_source_mix_report(spark, SF_SMOKE)
    total_share = df.agg(F.sum("token_share")).collect()[0][0]
    n_src = df.count()
    assert abs(total_share - 1.0) <= n_src * 5e-7
    tok = df.agg(F.sum("n_tokens")).collect()[0][0]
    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.operators.textops import words

    docs = load_table(spark, SF_SMOKE, "documents")
    want = docs.select(F.explode(words("text")).alias("w")).filter(
        F.col("w") != ""
    ).count()
    assert tok == want


# ---------------------------------------------------------- retrieval_ndcg


def test_retrieval_ndcg_parity(spark):
    df = llm_next9.QUERIES_NEXT["retrieval_ndcg"](spark, SF_ORACLE)
    assert_gradable_schema(df, "retrieval_ndcg")
    assert df.count() > 0
    compare(df, duckdb_run(llm_next9.ORACLE_NEXT["retrieval_ndcg"], SF_ORACLE))


def test_ndcg_bounds_and_weights(spark):
    """ndcg in [0,1]; dcg <= ideal prefix sum; a perfect single-rank
    hit at rank 1 with n_relevant >= 5 gives ndcg = round(1/cum5, 6)
    — checked arithmetically against the pinned literals."""
    import pyspark.sql.functions as F

    df = llm_next9.q_retrieval_ndcg(spark, SF_SMOKE)
    assert df.filter((F.col("ndcg") < 0) | (F.col("ndcg") > 1)).count() == 0
    # weights are the canonical 1/log2(rank+1) to 6dp
    import math

    assert llm_next9._NDCG_W[0] == 1.0
    for i, w in enumerate(llm_next9._NDCG_W):
        assert w == pytest.approx(1.0 / math.log2(i + 2), abs=5e-7)
    # cumulative literals are exact decimal prefix sums
    from decimal import Decimal

    acc = Decimal(0)
    for w, c in zip(llm_next9._NDCG_W, llm_next9._NDCG_CUMW):
        acc += Decimal(str(w))
        assert Decimal(c) == acc


def test_ndcg_relevance_is_language_match(spark):
    """Recompute one query's DCG by hand from the retrieval output
    and the documents table."""
    from decimal import Decimal

    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.plans.llm_next6 import q_tfidf_retrieval

    ret = q_tfidf_retrieval(spark, SF_SMOKE).collect()
    docs = {
        r.doc_id: r.lang
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    out = {r.query_id: r for r in llm_next9.q_retrieval_ndcg(spark, SF_SMOKE).collect()}
    qid = next(iter(out))
    dcg = Decimal(0)
    for r in ret:
        if r.query_id == qid and docs[r.doc_id] == docs[qid]:
            dcg += Decimal(str(llm_next9._NDCG_W[r.rank - 1]))
    assert float(dcg) == pytest.approx(out[qid].dcg, abs=1e-9)


# ---------------------------------------------------------------- audits

from stock_data_project_spark.plans import audits  # noqa: E402

OLAP10_KEYS = {
    "ks_statistic",
    "gini_coefficient",
    "benford_deviation",
    "categorical_association",
}


def test_olap10_keys_are_oracled():
    assert OLAP10_KEYS <= set(audits.QUERIES)
    assert OLAP10_KEYS <= set(audits.ORACLE)


def test_ks_matches_scipy_style_reference(spark):
    """Independent in-memory KS over the same cents samples."""
    row = audits.q_ks_statistic(spark, SF_SMOKE).collect()[0]
    a = sorted(
        r.cents
        for r in audits._seg_cents(
            spark, SF_SMOKE, audits._KS_SEG_A
        ).collect()
    )
    b = sorted(
        r.cents
        for r in audits._seg_cents(
            spark, SF_SMOKE, audits._KS_SEG_B
        ).collect()
    )
    n, m = len(a), len(b)
    assert (row.n, row.m) == (n, m)
    import bisect

    d_num = max(
        abs(bisect.bisect_right(a, v) * m - bisect.bisect_right(b, v) * n)
        for v in set(a) | set(b)
    )
    assert row.d_num == d_num
    assert 0 <= row.ks <= 1


def test_gini_bounds_and_uniform_zero(spark):
    """G in [0, 1); a crafted equal-revenue segment ginis to ~0
    ((n-1)-free exactness: 2Σi·x = (n+1)Σx when all x equal)."""
    import pyspark.sql.functions as F

    df = audits.q_gini_coefficient(spark, SF_SMOKE)
    assert df.filter((F.col("gini") < 0) | (F.col("gini") >= 1)).count() == 0
    # exactness pin: equal values -> numerator exactly 0
    n, x = 7, 12345
    a = 2 * sum(i * x for i in range(1, n + 1)) - (n + 1) * n * x
    assert a == 0


def test_benford_shares_and_digits(spark):
    import pyspark.sql.functions as F

    df = audits.q_benford_deviation(spark, SF_SMOKE)
    rows = df.collect()
    assert all(1 <= r.digit <= 9 for r in rows)
    total_share = sum(r.obs_share for r in rows)
    assert abs(total_share - 1.0) <= 9 * 5e-7
    # pinned literals are the canonical log10(1 + 1/d)
    import math

    for d, w in audits._BENFORD_EXP.items():
        assert w == pytest.approx(math.log10(1 + 1 / d), abs=5e-7)


def test_chi2_cells_reconstruct_totals(spark):
    """Observed cell counts sum to the corpus size; every expected
    value is positive; chi2 >= 0."""
    import pyspark.sql.functions as F

    from stock_data_project_spark.catalog import load_table

    df = audits.q_categorical_association(spark, SF_SMOKE)
    n = load_table(spark, SF_SMOKE, "documents").count()
    agg = df.agg(
        F.sum("observed").alias("tot"),
        F.min("expected").alias("emin"),
        F.min("chi2_cell").alias("cmin"),
    ).collect()[0]
    assert agg.tot == n
    assert agg.emin > 0
    assert agg.cmin >= 0


