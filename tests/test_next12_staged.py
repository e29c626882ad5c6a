"""Late-r10 keys staged for the r12 window (llm_next12 zipf_slope /
flesch_reading_ease / containment_pairs): driver-identical parity
plus independent implementation pins (numpy OLS replays, a
pure-``re`` readability recount, a planted sub-document containment
construction), and the one_way_anova / herfindahl_index /
event_mutual_info pins of plans/audits.py. The runs/ljung_box/jarque_bera/sharpe/
hurst/variance_ratio/seasonality pins live in tests/test_statistics.py."""

from __future__ import annotations

import math
import re

import duckdb
import numpy as np
import pytest

from stock_data_project_spark.plans import audits, llm_next12
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import assert_gradable_schema, compare, duckdb_run


def test_next12_keys_are_oracled():
    for key in ("one_way_anova", "herfindahl_index"):
        assert key in audits.QUERIES and key in audits.ORACLE
    assert set(llm_next12.QUERIES_NEXT) == set(llm_next12.ORACLE_NEXT)


@pytest.mark.parametrize("key", sorted(llm_next12.QUERIES_NEXT))
def test_llm_next12_parity(spark, key):
    for sf in (SF_SMOKE, SF_ORACLE):
        df = llm_next12.QUERIES_NEXT[key](spark, sf)
        assert_gradable_schema(df, key)
        assert df.count() > 0
        compare(df, duckdb_run(llm_next12.ORACLE_NEXT[key], sf))


# ------------------------------------------------------ semantic pins


def test_one_way_anova_matches_numpy(spark):
    row = audits.q_one_way_anova(spark, SF_ORACLE).collect()[0]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/customer.parquet')"
    )
    df = con.sql(
        "SELECT c_mktsegment AS seg,"
        " CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents FROM customer"
    ).df()
    groups = [g["cents"].to_numpy(dtype=np.float64) for _, g in df.groupby("seg")]
    allv = np.concatenate(groups)
    ssb = sum(len(g) * (g.mean() - allv.mean()) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    k, n = len(groups), len(allv)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    eta = ssb / (ssb + ssw)
    assert (row["k_groups"], row["n_total"]) == (k, n)
    assert abs(row["f_stat"] - f) < 1e-5 * max(1.0, abs(f))
    assert abs(row["eta_sq"] - eta) < 1e-6
    assert abs(row["ss_between"] - ssb) < 1.0  # ~1e13-scale double sums
    assert abs(row["ss_within"] - ssw) < 1.0


def test_herfindahl_invariants(spark):
    rows = audits.q_herfindahl_index(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        n = r["n_suppliers"]
        # HHI of n shares lies in [1/n, 1]; rounded shares drift by
        # at most n·1e-6 off the simplex
        assert 1.0 / n - 1e-4 <= r["hhi"] <= 1.0 + 1e-4, r
        assert 1.0 / n - 1e-6 <= r["top_share"] <= 1.0
        assert r["hhi"] <= r["top_share"] + 1e-6 or n == 1


def test_zipf_slope_matches_numpy_and_is_zipfian(spark):
    rows = {r["source"]: r for r in llm_next12.q_zipf_slope(spark, SF_ORACLE).collect()}
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/documents.parquet')"
    )
    df = con.sql(
        rf"""
        WITH toks AS (
            SELECT source, unnest(string_split(
                regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
            FROM documents WHERE text IS NOT NULL),
        cnt AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2)
        SELECT source, c FROM cnt
        QUALIFY row_number() OVER (PARTITION BY source
                                   ORDER BY c DESC, tok ASC) <= 100
        ORDER BY source, c DESC
        """
    ).df()
    for src, g in df.groupby("source"):
        c = np.sort(g["c"].to_numpy(dtype=np.float64))[::-1]
        x = np.log(np.arange(1, len(c) + 1, dtype=np.float64))
        y = np.log(c)
        slope, intercept = np.polyfit(x, y, 1)
        row = rows[src]
        assert row["n_terms"] == len(c)
        assert abs(row["zipf_slope"] - slope) < 1e-4, (src, row["zipf_slope"], slope)
        assert abs(row["zipf_intercept"] - intercept) < 1e-4
        assert row["zipf_slope"] < 0  # frequency falls with rank


def test_flesch_matches_pure_python(spark):
    rows = llm_next12.q_flesch_reading_ease(spark, SF_ORACLE).limit(200).collect()
    con = duckdb.connect()
    texts = dict(
        con.sql(
            f"SELECT doc_id, text FROM read_parquet('{SF_ORACLE}/documents.parquet')"
            " WHERE text IS NOT NULL"
        ).fetchall()
    )
    for r in rows:
        t = texts[r["doc_id"]]
        ns = len(re.findall(r"[.!?]+", t))
        nw = len(re.findall(r"[a-z]+", t.lower()))
        ny = len(re.findall(r"[aeiouy]+", t.lower()))
        assert (r["n_sentences"], r["n_words"], r["n_syllables"]) == (ns, nw, ny)
        if ns and nw:
            fre = 206.835 - 1.015 * (nw / ns) - 84.6 * (ny / nw)
            assert abs(r["flesch"] - fre) < 1e-5
        else:
            assert r["flesch"] is None


def test_containment_detects_planted_subdocument(spark):
    """A short doc wholly embedded in a same-block longer doc must
    reach containment 1.0 in the short→long direction even though
    jaccard is far below any dedup threshold — the asymmetric-measure
    point of the key."""
    from stock_data_project_spark.operators.dedup import blocked_containment_pairs

    short = "alpha beta gamma delta"
    long = short + " " + " ".join(f"tok{i}" for i in range(40))
    df = spark.createDataFrame(
        [
            (1, short, "en", 50),
            (2, long, "en", 60),  # same 100-char bucket
            (3, "unrelated words entirely", "en", 55),
        ],
        "doc_id int, text string, lang string, n_chars int",
    )
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r
        for r in blocked_containment_pairs(df, threshold=0.5).collect()
    }
    r = got[(1, 2)]
    assert r["containment_a"] == 1.0
    assert r["containment_b"] < 0.2
    assert (1, 3) not in got and (2, 3) not in got


def test_containment_pairs_consistency_with_jaccard(spark):
    """containment and jaccard agree on the identity
    1/jaccard = |A|/inter + |B|/inter − 1 for every emitted pair that
    the jaccard key also emits (threshold permitting)."""
    cont = {
        (r["doc_id_a"], r["doc_id_b"]): r
        for r in llm_next12.q_containment_pairs(spark, SF_SMOKE).collect()
    }
    from stock_data_project_spark.plans.llm import q_ngram_jaccard

    jac = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in q_ngram_jaccard(spark, SF_SMOKE).collect()
    }
    shared = set(cont) & set(jac)
    assert shared, "expected overlapping pairs between jaccard and containment"
    for pair in sorted(shared)[:50]:
        r = cont[pair]
        ca, cb, j = r["containment_a"], r["containment_b"], jac[pair]
        # 1/j = 1/ca + 1/cb − 1 (exact set identity, 6dp-rounded inputs)
        assert abs(1.0 / j - (1.0 / ca + 1.0 / cb - 1.0)) < 1e-3, (pair, ca, cb, j)


# ----------------------------------------- second late-r10 batch (audits)


def test_next12b_keys_are_oracled():
    assert "event_mutual_info" in audits.QUERIES
    assert "event_mutual_info" in audits.ORACLE


def test_event_mutual_info_matches_numpy(spark):

    row = audits.q_event_mutual_info(spark, SF_ORACLE).collect()[0]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_ORACLE}/events.parquet')"
    )
    cells = con.sql(
        """SELECT event_type, CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS h,
                  count(*) AS c
           FROM events GROUP BY 1, 2"""
    ).df()
    n = cells["c"].sum()
    cx = cells.groupby("event_type")["c"].sum()
    cy = cells.groupby("h")["c"].sum()
    mi = sum(
        (r.c / n) * math.log(r.c * n / (cx[r.event_type] * cy[r.h]))
        for r in cells.itertuples()
    )
    hx = -sum((v / n) * math.log(v / n) for v in cx)
    hy = -sum((v / n) * math.log(v / n) for v in cy)
    assert row["n_events"] == n and row["n_cells"] == len(cells)
    assert abs(row["mi_nats"] - mi) < 1e-5
    assert abs(row["h_type"] - hx) < 1e-5
    assert abs(row["h_hour"] - hy) < 1e-5
    assert abs(row["nmi"] - mi / min(hx, hy)) < 1e-4
    assert 0.0 <= row["nmi"] <= 1.0 + 1e-9


