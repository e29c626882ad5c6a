"""r10-built keys staged for the r12 window (llm_next10
ann_recall_eval, stream_next9 stream_full_join): driver-identical
parity plus per-operator semantic pins, and the planted-ties
kruskal_wallis parity (the testdata is tie-free on cents). The
acf/seasonal/holt/cusum/theil_sen pins live in
tests/test_statistics.py; the Welch and Kruskal replays here test
plans/audits.py."""

from __future__ import annotations

import duckdb

from stock_data_project_spark.plans import audits, llm_next10, statistics, stream_next9
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import assert_gradable_schema, compare, duckdb_run


def test_next10_keys_are_oracled():
    assert set(llm_next10.QUERIES_NEXT) == set(llm_next10.ORACLE_NEXT)
    assert set(stream_next9.QUERIES_NEXT) == set(stream_next9.ORACLE_NEXT)


# ------------------------------------------------------- ann_recall_eval


def test_ann_recall_eval_parity(spark):
    df = llm_next10.q_ann_recall_eval(spark, SF_ORACLE)
    assert_gradable_schema(df, "ann_recall_eval")
    assert df.count() > 0
    compare(df, duckdb_run(llm_next10.ORACLE_NEXT["ann_recall_eval"], SF_ORACLE))


def test_ann_recall_eval_parity_smoke(spark):
    df = llm_next10.q_ann_recall_eval(spark, SF_SMOKE)
    compare(df, duckdb_run(llm_next10.ORACLE_NEXT["ann_recall_eval"], SF_SMOKE))


def test_ann_recall_eval_planted_margin():
    """The provable-recall argument needs cross-anchor cosines well
    below the within-group 1.0 (6dp-rounded) — assert the margin on
    the real testdata rather than assuming it."""
    import numpy as np

    for sf in (SF_SMOKE, SF_ORACLE):
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf}/embeddings.parquet')"
        )
        m = con.sql(
            f"SELECT embedding FROM embeddings WHERE vec_id % {llm_next10._AR_K} = 0"
        ).fetchnumpy()
        a = np.stack([np.asarray(v, dtype=np.float64) for v in m["embedding"]])
        a /= np.linalg.norm(a, axis=1, keepdims=True)
        s = a @ a.T
        np.fill_diagonal(s, -1.0)
        assert s.max() < 0.999999, (sf, s.max())


def test_ann_recall_eval_runs_with_arrow_disabled(spark):
    """The ivf search path crosses toPandas (query routing) — the
    driver's session does NOT enable Arrow (CLAUDE.md), so the key
    must survive the non-Arrow conversion path."""
    old = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    try:
        rows = llm_next10.q_ann_recall_eval(spark, SF_SMOKE).collect()
        assert len(rows) > 0
        for r in rows:
            assert r["recall"] == 1.0
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", old)


def test_ann_recall_eval_detects_broken_routing(spark):
    """The grade is real: searching the planted corpus with the
    NON-planted queries' ids (wrong anchors → wrong groups) must not
    still produce the oracle arithmetic. Equivalent negative control:
    recall against a shifted group id is < 1 somewhere."""
    import pyspark.sql.functions as F

    from stock_data_project_spark.catalog import load_table
    from stock_data_project_spark.operators.ivf import ivf_topk

    emb = load_table(spark, SF_SMOKE, "embeddings")
    k = llm_next10._AR_K
    members = emb.select("vec_id", F.expr(f"vec_id DIV {k}").alias("gid"))
    anchors = emb.filter(F.col("vec_id") % k == 0).select(
        F.expr(f"vec_id DIV {k}").alias("gid"), F.col("embedding").alias("a_emb")
    )
    planted = members.join(anchors, "gid").select(
        "vec_id", F.col("a_emb").alias("embedding")
    )
    # queries deliberately mislabeled: anchor vector of gid, id of gid+1
    queries = (
        anchors.filter((F.col("gid") % 4 == 0) & (F.col("gid") < 20))
        .select(
            (-((F.col("gid") + 1) * k) - 1).alias("vec_id"),
            F.col("a_emb").alias("embedding"),
        )
    )
    topk = ivf_topk(planted, queries, k=k)
    hit = topk.filter(
        F.expr(f"neighbor_id DIV {k}") == F.expr(f"(-query_id - 1) DIV {k}")
    ).count()
    assert hit == 0  # retrieved vectors belong to the TRUE group, not the label


# ------------------------------------------------------ stream_full_join


def test_stream_full_join_parity(spark):
    df = stream_next9.stream_full_join(spark, SF_ORACLE)
    assert_gradable_schema(df, "stream_full_join")
    assert df.count() > 0
    compare(df, duckdb_run(stream_next9.ORACLE_NEXT["stream_full_join"], SF_ORACLE))


def test_stream_full_join_parity_smoke(spark):
    df = stream_next9.stream_full_join(spark, SF_SMOKE)
    compare(df, duckdb_run(stream_next9.ORACLE_NEXT["stream_full_join"], SF_SMOKE))


def test_stream_full_join_no_boundary_ties():
    """Both strict-< emission rules rely on no event landing exactly
    on the ms-truncated final watermark (view horizon ts+30min, click
    horizon ts) — assert the measure-zero assumption on the data."""
    for sf in (SF_SMOKE, SF_ORACLE):
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{sf}/events.parquet')"
        )
        n_view, n_click = con.sql(
            f"""
            WITH fwm AS (
                SELECT least(
                    (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events
                     WHERE event_type = 'view'),
                    (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events
                     WHERE event_type = 'click')
                ) - CAST({stream_next9._SFJ_DELAY_US} AS BIGINT) AS wm
            )
            SELECT
              (SELECT count(*) FROM events, fwm WHERE event_type = 'view'
                AND epoch_us(ts) + {stream_next9._SFJ_INTERVAL_US} = fwm.wm),
              (SELECT count(*) FROM events, fwm WHERE event_type = 'click'
                AND epoch_us(ts) = fwm.wm)
            """
        ).fetchone()
        assert (n_view, n_click) == (0, 0), (sf, n_view, n_click)


def test_stream_full_join_click_side_semantics(spark):
    """The NEW emission rule this key grades: at least one
    null-extended CLICK row exists (the left-outer variant can never
    emit one), every such click sits strictly below the watermark,
    and unmatched clicks above it are withheld."""
    import pyspark.sql.functions as F

    out = stream_next9.stream_full_join(spark, SF_ORACLE)
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/events.parquet')"
    )
    (wm,) = con.sql(
        f"""
        SELECT least(
            (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events
             WHERE event_type = 'view'),
            (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events
             WHERE event_type = 'click')
        ) - CAST({stream_next9._SFJ_DELAY_US} AS BIGINT)
        """
    ).fetchone()
    null_clicks = out.filter(F.col("view_id").isNull())
    n = null_clicks.count()
    assert n > 0
    late = null_clicks.filter(
        F.unix_micros(F.col("click_ts")) >= wm
    ).count()
    assert late == 0
    # withheld: no unmatched click at/above the horizon appears
    matched_clicks = {
        r[0]
        for r in out.filter(F.col("view_id").isNotNull() & F.col("click_id").isNotNull())
        .select("click_id")
        .collect()
    }
    emitted_null = {r[0] for r in null_clicks.select("click_id").collect()}
    all_clicks = con.sql(
        "SELECT event_id, epoch_us(ts) FROM events WHERE event_type = 'click'"
    ).fetchall()
    for cid, us in all_clicks:
        if cid in matched_clicks:
            continue
        assert (cid in emitted_null) == (us < wm), (cid, us, wm)


# ------------------------------------------------------ welch / kruskal


def test_stock8_and_welch_are_oracled():
    for key in ("acf_returns", "seasonal_decompose", "holt_forecast",
                "cusum_anomaly", "theil_sen_slope"):
        assert key in statistics.ORACLE
    olap11_keys = {"welch_ttest", "kruskal_wallis", "mann_whitney_u",
                   "event_transition_matrix"}
    assert olap11_keys <= set(audits.QUERIES)
    assert olap11_keys <= set(audits.ORACLE)


def test_cusum_and_kruskal_are_oracled():
    assert "cusum_anomaly" in statistics.ORACLE
    assert "kruskal_wallis" in audits.QUERIES
    assert "kruskal_wallis" in audits.ORACLE


def test_welch_ttest_matches_scipy_formula(spark):
    """Semantic pin vs an independent Welch computation (numpy,
    textbook formulas) to 4dp."""
    import numpy as np

    rows = audits.q_welch_ttest(spark, SF_ORACLE).collect()
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/customer.parquet')"
    )
    data = con.sql(
        "SELECT c_mktsegment, CAST(round(c_acctbal * 100, 0) AS BIGINT)"
        " FROM customer"
    ).fetchall()
    by_seg: dict[str, list[int]] = {}
    for seg, cents in data:
        by_seg.setdefault(seg, []).append(cents)
    for row in rows:
        a = np.array(by_seg[row["seg_a"]], dtype=np.float64)
        b = np.array(by_seg[row["seg_b"]], dtype=np.float64)
        va, vb = a.var(ddof=1), b.var(ddof=1)
        se2 = va / len(a) + vb / len(b)
        t = (a.mean() - b.mean()) / np.sqrt(se2)
        dfw = se2**2 / (
            (va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1)
        )
        assert abs(row["t_stat"] - t) < 1e-4, (row, t)
        assert abs(row["df_welch"] - dfw) < 1e-2 * max(1.0, dfw), (row, dfw)


def test_kruskal_wallis_matches_textbook(spark):
    """Independent H computation (numpy textbook formula with average
    ranks) on the real data, to 4dp."""
    import numpy as np

    (row,) = audits.q_kruskal_wallis(spark, SF_ORACLE).collect()
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/customer.parquet')"
    )
    data = con.sql(
        "SELECT c_mktsegment, CAST(round(c_acctbal*100,0) AS BIGINT) FROM customer"
    ).fetchall()
    segs = sorted({s for s, _ in data})
    all_vals = np.array([v for _, v in data], dtype=np.float64)
    order = np.argsort(all_vals, kind="stable")
    ranks = np.empty(len(all_vals))
    sv = all_vals[order]
    i = 0
    pos = np.arange(1, len(sv) + 1, dtype=np.float64)
    while i < len(sv):
        j = i
        while j + 1 < len(sv) and sv[j + 1] == sv[i]:
            j += 1
        ranks[order[i : j + 1]] = pos[i : j + 1].mean()
        i = j + 1
    n = len(all_vals)
    h = 0.0
    labels = np.array([s for s, _ in data])
    for s in segs:
        rs = ranks[labels == s]
        h += rs.sum() ** 2 / len(rs)
    h = 12.0 / (n * (n + 1)) * h - 3 * (n + 1)
    assert abs(row["h_stat"] - h) < 1e-4, (row["h_stat"], h)


def test_kruskal_wallis_planted_ties_parity(spark, tmp_path):
    """The tie machinery (half-unit average ranks + t³−t correction)
    is not exercised by the tie-free testdata — plant heavy ties in a
    synthetic customer table and require full value-level parity AND
    h_corrected > h_stat."""
    import duckdb as ddb
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "c_custkey": list(range(60)),
            "c_name": [f"c{i}" for i in range(60)],
            "c_nationkey": [0] * 60,
            # three segments over a tiny tied domain with DIFFERENT
            # distributions (identical ones make H exactly 0)
            "c_mktsegment": (["A"] * 20 + ["B"] * 20 + ["C"] * 20),
            "c_acctbal": [float(v) for v in (
                [1.0, 2.0, 2.0, 3.0] * 5
                + [2.0, 3.0, 3.0, 4.0] * 5
                + [1.0, 1.0, 4.0, 4.0] * 5
            )],
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(f"{d}/customer.parquet")
    df = audits.q_kruskal_wallis(spark, d)
    con = ddb.connect()
    con.sql(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{d}/customer.parquet')")
    od = con.sql(audits.ORACLE["kruskal_wallis"]).df()
    (srow,) = df.collect()
    assert len(od) == 1
    orow = od.iloc[0]
    assert srow["n_total"] == orow["n_total"] == 60
    assert srow["h_stat"] == orow["h_stat"]
    assert srow["h_corrected"] == orow["h_corrected"]
    assert srow["h_corrected"] > srow["h_stat"]  # C < 1 with real ties
