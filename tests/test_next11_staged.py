"""Late-r10 keys staged for the r12 window (llm_next11
dsir_importance, stream_next10 stream_chained_agg): driver-identical
parity plus independent implementation pins (pure-Python DSIR
replay) and a planted-ties Mann-Whitney construction (the testdata is
tie-free on cents, so the tie machinery needs its own table), and
the mann_whitney_u / event_transition_matrix replays of
plans/audits.py."""

from __future__ import annotations

import duckdb
import numpy as np

from stock_data_project_spark.plans import audits, llm_next11
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import assert_gradable_schema, avg_ranks, compare, duckdb_run


def test_next11_keys_are_oracled():
    for key in ("mann_whitney_u", "event_transition_matrix"):
        assert key in audits.QUERIES and key in audits.ORACLE
    assert set(llm_next11.QUERIES_NEXT) == set(llm_next11.ORACLE_NEXT)


def test_dsir_parity(spark):
    for sf in (SF_SMOKE, SF_ORACLE):
        df = llm_next11.q_dsir_importance(spark, sf)
        assert_gradable_schema(df, "dsir_importance")
        assert df.count() > 0
        compare(df, duckdb_run(llm_next11.ORACLE_NEXT["dsir_importance"], sf))


# ------------------------------------------------------ semantic pins


def test_mann_whitney_matches_textbook(spark):
    """Independent U and z per pair (numpy average ranks over the
    pair's combined sample + the tie-corrected normal approximation),
    to 4dp on the real data."""
    rows = {
        (r["seg_a"], r["seg_b"]): r
        for r in audits.q_mann_whitney_u(spark, SF_ORACLE).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/customer.parquet')"
    )
    data = con.sql(
        "SELECT c_mktsegment, CAST(round(c_acctbal*100,0) AS BIGINT) FROM customer"
    ).fetchall()
    segs = sorted({s for s, _ in data})
    by_seg = {s: np.array([v for t, v in data if t == s], dtype=np.float64) for s in segs}
    assert len(rows) == len(segs) * (len(segs) - 1) // 2
    for i, a in enumerate(segs):
        for b in segs[i + 1 :]:
            xa, xb = by_seg[a], by_seg[b]
            comb = np.concatenate([xa, xb])
            ranks = avg_ranks(comb)
            r_a = ranks[: len(xa)].sum()
            u = r_a - len(xa) * (len(xa) + 1) / 2.0
            n = len(comb)
            _, t_counts = np.unique(comb, return_counts=True)
            tie = float((t_counts**3 - t_counts).sum())
            sigma = np.sqrt(
                len(xa) * len(xb) / 12.0 * ((n + 1) - tie / (n * (n - 1)))
            )
            z = (u - len(xa) * len(xb) / 2.0) / sigma
            row = rows[(a, b)]
            assert abs(row["u_stat"] - u) < 1e-9, (a, b, row["u_stat"], u)
            assert abs(row["z_stat"] - z) < 1e-4, (a, b, row["z_stat"], z)


def test_event_transition_invariants(spark):
    """Counts account for every non-first event; per-prev
    probabilities are the exact HALF_UP ratios and sum to ~1."""
    rows = audits.q_event_transition_matrix(spark, SF_ORACLE).collect()
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_ORACLE}/events.parquet')"
    )
    n_events, n_users = con.sql(
        "SELECT count(*), count(DISTINCT user_id) FROM events"
    ).fetchone()
    assert sum(r["n_trans"] for r in rows) == n_events - n_users
    by_prev: dict[str, list] = {}
    for r in rows:
        by_prev.setdefault(r["prev_type"], []).append(r)
    for prev, grp in by_prev.items():
        n_from = grp[0]["n_from"]
        assert all(g["n_from"] == n_from for g in grp)
        assert sum(g["n_trans"] for g in grp) == n_from
        p_sum = sum(g["p_trans"] for g in grp)
        assert abs(p_sum - 1.0) < len(grp) * 5e-7 + 1e-12, (prev, p_sum)


def test_mann_whitney_planted_ties_parity(spark, tmp_path):
    """Heavy planted ties: full value-level parity on the synthetic
    table AND the hand-computable two-group example (A strictly below
    B → U = 0)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "c_custkey": list(range(40)),
            "c_name": [f"c{i}" for i in range(40)],
            "c_nationkey": [0] * 40,
            "c_mktsegment": ["A"] * 20 + ["B"] * 20,
            "c_acctbal": [float(v) for v in (
                [1.0, 1.0, 2.0, 2.0] * 5 + [3.0, 3.0, 4.0, 4.0] * 5
            )],
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(f"{d}/customer.parquet")
    df = audits.q_mann_whitney_u(spark, d)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{d}/customer.parquet')")
    od = con.sql(audits.ORACLE["mann_whitney_u"]).df()
    (srow,) = df.collect()
    assert len(od) == 1
    orow = od.iloc[0]
    assert srow["n_a"] == orow["n_a"] == 20
    assert srow["u_stat"] == orow["u_stat"] == 0.0  # A strictly below B
    assert srow["z_stat"] == orow["z_stat"]
    assert srow["z_stat"] < -5.0  # decisive separation


def test_vocab_growth_parity(spark):
    from stock_data_project_spark.plans import llm_next11 as l11

    for sf in (SF_SMOKE, SF_ORACLE):
        df = l11.q_vocab_growth(spark, sf)
        assert_gradable_schema(df, "vocab_growth")
        assert df.count() > 0
        compare(df, duckdb_run(l11.ORACLE_NEXT["vocab_growth"], sf))


def test_vocab_growth_invariants(spark):
    """Heaps-curve sanity: the running vocab ends at the corpus's
    exact distinct-token count, growth is monotone, the first doc
    contributes exactly its own distinct tokens, and new-token counts
    re-sum to the final vocabulary."""
    import re

    rows = sorted(
        llm_next11.q_vocab_growth(spark, SF_SMOKE).collect(),
        key=lambda r: r["doc_id"],
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    docs = con.sql(
        "SELECT doc_id, text FROM documents WHERE text IS NOT NULL ORDER BY doc_id"
    ).fetchall()
    vocab: set[str] = set()
    tok0 = None
    for doc_id, text in docs:
        toks = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
        if tok0 is None:
            tok0 = len(set(toks))
        vocab.update(toks)
    assert rows[0]["n_new_tokens"] == tok0
    assert rows[-1]["vocab_size"] == len(vocab)
    assert sum(r["n_new_tokens"] for r in rows) == len(vocab)
    for prev, cur in zip(rows, rows[1:]):
        assert cur["vocab_size"] >= prev["vocab_size"]
        assert cur["tokens_seen"] == prev["tokens_seen"] + cur["n_tokens"]


def test_stream_chained_agg_parity(spark):
    """The two-stateful-operator rollup vs the final-watermark-cut
    replay at smoke AND oracle SF — the 4-drop feed IS the
    cross-batch incrementality pin (buckets finalize in different
    micro-batches than the hours that absorb them)."""
    from stock_data_project_spark.plans import stream_next10

    for sf in (SF_SMOKE, SF_ORACLE):
        df = stream_next10.stream_chained_agg(spark, sf)
        assert_gradable_schema(df, "stream_chained_agg")
        assert df.count() > 0
        compare(df, duckdb_run(stream_next10.ORACLE_NEXT["stream_chained_agg"], sf))


def test_stream_chained_agg_no_boundary_ties():
    """The ≤-vs-< emission choice is indistinguishable only while the
    final watermark never lands exactly on an hour boundary — assert
    that on the real data (the stream_distinct_users tie rule)."""
    from stock_data_project_spark.plans import stream_next10

    for sf in (SF_SMOKE, SF_ORACLE):
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
        )
        n = con.sql(
            f"""SELECT count(*) FROM (
                SELECT max(ts) - {stream_next10._SCA_DELAY_SQL} AS wm FROM events) w
                WHERE epoch_us(wm) % {stream_next10._SCA_HOUR_US} = 0"""
        ).fetchone()[0]
        assert n == 0


def test_stream_chained_agg_rollup_invariants(spark):
    """Each emitted hour carries 1..12 buckets, max_bucket ≤ n_events,
    and bucket counts re-sum to the hour totals."""
    from stock_data_project_spark.plans import stream_next10

    rows = stream_next10.stream_chained_agg(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_buckets"] <= 12
        assert r["max_bucket"] <= r["n_events"]
        assert r["n_events"] >= r["n_buckets"]  # every bucket ≥ 1 event


def test_dsir_replay_and_direction(spark):
    """Pure-Python replay of the DSIR estimator on sf0.001 (same
    tokenization, add-1 smoothing, 6dp-rounded per-token weights) to
    1e-4, plus the selection property: target-language docs score
    higher on average than non-target."""
    import math
    import re
    from collections import Counter

    rows = {r["doc_id"]: r for r in llm_next11.q_dsir_importance(spark, SF_SMOKE).collect()}
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    docs = con.sql("SELECT doc_id, lang, text FROM documents WHERE text IS NOT NULL").fetchall()
    per_doc = {}
    raw: Counter = Counter()
    tgt: Counter = Counter()
    for doc_id, lang, text in docs:
        toks = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
        c = Counter(toks)
        per_doc[doc_id] = (lang == llm_next11._TGT_LANG, c)
        raw.update(c)
        if lang == llm_next11._TGT_LANG:
            tgt.update(c)
    v = len(raw)
    t_raw = sum(raw.values())
    t_tgt = sum(tgt.values())
    weights = {
        tok: round(
            math.log((tgt.get(tok, 0) + 1) / (t_tgt + v))
            - math.log((raw[tok] + 1) / (t_raw + v)),
            6,
        )
        for tok in raw
    }
    tgt_scores, other_scores = [], []
    for doc_id, (is_tgt, c) in per_doc.items():
        score = sum(cnt * weights[tok] for tok, cnt in c.items())
        row = rows[doc_id]
        assert row["is_target"] == int(is_tgt)
        assert row["n_tokens"] == sum(c.values())
        assert abs(row["log_importance"] - score) < 1e-4, (doc_id, score)
        (tgt_scores if is_tgt else other_scores).append(row["log_importance"])
    assert np.mean(tgt_scores) > np.mean(other_scores) + 0.1
