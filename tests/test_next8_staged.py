"""r9-built non-media keys staged for the r10 window
(stream_next7.stream_dedup_watermark, llm_next8 chunk_documents):
driver-identical parity plus each operator's semantic pins — for the streaming dedup, the BOUNDED
state asserted from progress metrics (in-repo only; state metrics
are partial-layout-dependent and never graded), the watermark-tie
absence the 119-minute delay relies on, and the probe-pinned engine
semantics a Spark upgrade must not silently change; and the
entity_resolution (plans/graph.py) / winsorized_stats
(plans/audits.py) invariants."""

from __future__ import annotations

import pytest

from stock_data_project_spark.plans import audits, graph, stream_next7
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import assert_gradable_schema, compare, duckdb_run


def test_key_is_oracled():
    assert set(stream_next7.QUERIES_NEXT) == set(stream_next7.ORACLE_NEXT)


def test_dedup_watermark_parity(spark):
    df = stream_next7.stream_dedup_watermark(spark, SF_ORACLE)
    assert_gradable_schema(df, "stream_dedup_watermark")
    assert df.count() > 0
    compare(
        df, duckdb_run(stream_next7.ORACLE_NEXT["stream_dedup_watermark"], SF_ORACLE)
    )


def test_dedup_watermark_state_is_bounded_and_late_gate_fires(spark):
    """The point of dropDuplicatesWithinWatermark over dropDuplicates:
    state holds only the ids of one delay horizon, not every id ever
    seen. The final no-data batch's state must be a small fraction of
    the admitted ids, and the late gate must actually have discarded
    replayed rows."""
    rows, progress = stream_next7.run_dedup_watermark(
        spark, SF_SMOKE, query_name="sdw_state_probe"
    )
    states = [
        p["stateOperators"][0]
        for p in progress
        if p.get("stateOperators")
    ]
    assert states, "no state metrics captured"
    final_state = states[-1]["numRowsTotal"]
    dropped_late = sum(s.get("numRowsDroppedByWatermark", 0) for s in states)
    n_admitted = len(rows)
    assert n_admitted > 0
    # events span ~30 days vs a ~2h eviction horizon (ids stay in
    # state until wm > ts + delay, i.e. roughly the last 2·delay of
    # event time at the final cut)
    assert final_state < 0.2 * n_admitted, (final_state, n_admitted)
    assert dropped_late > 0
    # every admitted id exactly once (the exactly-once-ingest claim)
    ids = [r[0] for r in rows]
    assert len(ids) == len(set(ids))


def test_dedup_watermark_no_watermark_ties(spark):
    """The oracle assumes ties (arrival ts == batch-entry watermark)
    never occur: a tie needs an exact 7,140.000000 s gap to a prior
    drop's max ts. Assert absence on the actual arrival feed."""
    import duckdb

    for sf in (SF_SMOKE, SF_ORACLE):
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{sf}/events.parquet')"
        )
        (n_ties,) = con.sql(
            f"""
            WITH params AS (SELECT max(event_id) + 1 AS n FROM events),
            thirds AS (
                SELECT event_id, ts,
                       CASE WHEN event_id < n // 3 THEN 0
                            WHEN event_id < 2 * n // 3 THEN 1
                            ELSE 2 END AS drop_id
                FROM events, params
            ),
            wm AS (
                SELECT drop_id,
                       max(max(ts) - INTERVAL 119 MINUTE) OVER (
                           ORDER BY drop_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ) AS wm_prev
                FROM thirds GROUP BY drop_id
            )
            SELECT count(*) FROM thirds t JOIN wm USING (drop_id)
            WHERE t.ts = wm.wm_prev
            """
        ).fetchone()
        assert n_ties == 0, (sf, n_ties)


# ---------------------------------------------------- engine-semantic pins


def _feed_ddw(spark, drops, delay="30 minutes", name="ddw_pin"):
    """Tiny harness: feed crafted (key, ts) drops through ONE
    dropDuplicatesWithinWatermark query, one micro-batch per drop."""
    import pandas as pd
    from pyspark.sql import functions as F

    from stock_data_project_spark.streaming.feeder import feed_drops

    frame = spark.createDataFrame(
        [
            (k, pd.Timestamp(t).to_pydatetime(), i)
            for i, d in enumerate(drops)
            for k, t in d
        ],
        "k string, ts timestamp, _drop int",
    )
    feed_drops(
        frame,
        len(drops),
        lambda s: s.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["k"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name),
        drop_of=F.col("_drop"),
    )
    return sorted((r["k"], str(r["ts"])) for r in spark.table(name).collect())


def test_ddw_late_gate_precedes_dedup_and_eviction_is_inclusive(spark):
    """The r9 probe, pinned: (a) rows older than the batch-entry
    watermark are discarded even when their key's state is LIVE
    (k2); (b) an exact-boundary expiry (expireAt == wm) is evicted —
    k1's state is gone after drop 0's trailing batch, yet its same-ts
    replay is late, so it still never re-emits."""
    drops = [
        [("k1", "2024-01-01 00:00:00.5"), ("k2", "2024-01-01 00:05:00.5"),
         ("adv1", "2024-01-01 01:00:00.5")],
        # wm entering = 00:30:00.5 (k1 expiry tie -> evicted)
        [("k1", "2024-01-01 00:00:00.5"),   # evicted AND late -> dropped
         ("k2", "2024-01-01 00:05:00.5"),   # state live BUT late -> dropped
         ("k3", "2024-01-01 00:45:00.5")],  # on-time fresh -> admitted
    ]
    got = _feed_ddw(spark, drops, name="ddw_pin_a")
    assert got == sorted(
        [
            ("adv1", "2024-01-01 01:00:00.500000"),
            ("k1", "2024-01-01 00:00:00.500000"),
            ("k2", "2024-01-01 00:05:00.500000"),
            ("k3", "2024-01-01 00:45:00.500000"),
        ]
    )


def test_ddw_duplicate_does_not_extend_expiration(spark):
    """A non-late duplicate must NOT push out the first event's
    expiration: e1@00:00 is duplicated at 00:20 (state live, on
    time), the watermark then passes 00:30 (first-event expiry), and
    a third on-time arrival at 00:45 is RE-ADMITTED — it would have
    been dropped if the 00:20 duplicate had extended state to 00:50."""
    drops = [
        [("e1", "2024-01-01 00:00:00.5"), ("adv1", "2024-01-01 00:10:00.5")],
        [("e1", "2024-01-01 00:20:00.5"), ("adv2", "2024-01-01 00:40:00.5")],
        [("adv3", "2024-01-01 01:05:00.5")],  # wm -> 00:35:00.5
        [("e1", "2024-01-01 00:45:00.5"), ("adv4", "2024-01-01 01:10:00.5")],
    ]
    got = _feed_ddw(spark, drops, name="ddw_pin_b")
    e1_rows = [t for k, t in got if k == "e1"]
    assert e1_rows == [
        "2024-01-01 00:00:00.500000",
        "2024-01-01 00:45:00.500000",
    ]


# ------------------------------------------- entity-resolution operators


def test_entity_resolution_invariants(spark):

    pdf = graph.q_entity_resolution(spark, SF_ORACLE).toPandas()
    # matches are a subset of the block's pairs; min_matched_lev is
    # only defined (and <= threshold) where matches exist
    assert (pdf["n_matched_pairs"] <= pdf["n_block_pairs"]).all()
    has_match = pdf["n_matched_pairs"] > 0
    assert (pdf.loc[has_match, "min_matched_lev"] <= 2).all()
    assert pdf.loc[~has_match, "min_matched_lev"].isna().all()
    # block-pair totals == sum over blocks of C(block_size, 2),
    # recomputed independently
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/customer.parquet')"
    )
    (want,) = con.sql(
        """SELECT CAST(sum(n * (n - 1) / 2) AS BIGINT) FROM (
               SELECT count(*) AS n FROM customer
               GROUP BY c_nationkey, c_mktsegment)"""
    ).fetchone()
    assert int(pdf["n_block_pairs"].sum()) == want


def test_winsorized_stats_invariants(spark):

    pdf = audits.q_winsorized_stats(spark, SF_ORACLE).toPandas()
    assert (pdf["p01"] <= pdf["p99"]).all()
    # the winsorized mean must sit inside the capping bounds
    assert (pdf["winsorized_mean"] >= pdf["p01"] - 1e-9).all()
    assert (pdf["winsorized_mean"] <= pdf["p99"] + 1e-9).all()


@pytest.mark.parametrize("q", [4, 5])
def test_edit_prefix_candidates_lossless(spark, q):
    """The Ed-Join prefix filter must surface EVERY within-block pair
    at edit distance <= k — verified against the naive enumeration on
    a frame that exercises the SHORT fallback (lengths < q + k*q),
    the gram path, and cross-length pairs. q=4 and q=5 both run: the
    plan ships q=5 (gram-space sizing, see operators/dedup), and the
    SHORT threshold moves with q so both fallback splits are pinned."""
    from stock_data_project_spark.operators.dedup import edit_prefix_candidates

    rows = [
        (1, "B", "Customer#000000001"),
        (2, "B", "Customer#000000002"),  # lev 1 vs id 1
        (3, "B", "Customer#000099002"),  # lev 3 vs id 2
        (4, "B", "Custmer#000000001"),   # deletion, lev 1 vs id 1
        (5, "B", "abc"),                 # SHORT (no 4-grams at all)
        (6, "B", "abd"),                 # lev 1 vs id 5
        (7, "B", "abcdefghij"),          # L=10 < q+k*q: SHORT path
        (8, "B", "abXdefghYj"),          # lev 2 vs id 7
        (9, "C", "Customer#000000001"),  # other block: never paired
    ]
    df = spark.createDataFrame(rows, "id int, blk string, name string")
    cand = {
        (r["id_a"], r["id_b"])
        for r in edit_prefix_candidates(
            df, "id", "name", ("blk",), k=2, q=q
        ).collect()
    }
    import itertools

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    want = {
        (a[0], b[0])
        for a, b in itertools.combinations(rows, 2)
        if a[1] == b[1] and lev(a[2], b[2]) <= 2
    }
    assert want <= cand, want - cand
    # no cross-block leakage: id 9 is alone in its block
    assert not {p for p in cand if 9 in p}


def test_chunk_documents_parity_and_coverage(spark):
    from stock_data_project_spark.plans import llm_next8

    df = llm_next8.q_chunk_documents(spark, SF_ORACLE)
    assert_gradable_schema(df, "chunk_documents")
    compare(df, duckdb_run(llm_next8.ORACLE_NEXT["chunk_documents"], SF_ORACLE))
    pdf = df.toPandas()
    # indices contiguous from 0, and every chunk size matches the
    # exact sliding-window identity n_chunk_tokens = min(64, n − i·48)
    # where n is the doc's token count (recovered as the max covered
    # end position)
    for _, grp in pdf.groupby("doc_id"):
        idxs = sorted(grp["chunk_idx"])
        assert idxs == list(range(len(idxs)))
        n = int((grp["chunk_idx"] * 48 + grp["n_chunk_tokens"]).max())
        for _, r in grp.iterrows():
            assert r["n_chunk_tokens"] == min(64, n - r["chunk_idx"] * 48)
        # chunk count matches ceil(n / stride)
        assert len(grp) == -(-n // 48)
    assert (pdf["n_chunk_tokens"] >= 1).all()
    assert (pdf["n_chunk_tokens"] <= 64).all()


# --------------------------------------------- r12: ER family collapse


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_entity_resolution_exact_family_collapse_is_exact(spark, tmp_path):
    """r11 verdict item 2: the collapse-exact-first pre-pass must keep
    the output EQUAL to the full within-block enumeration on a corpus
    with real exact families (TPC-H names are all-distinct, so the
    graded path never exercises the expansion arithmetic — this
    planted corpus does: lev-0 family pairs, cross-family lev-1
    matches weighted m_a*m_b, and the min_matched_lev=0 branch)."""

    rows = [
        # block (1, 'A'): two exact families + a near name + a far name
        (1, "Customer#000000001", 1, "A"),
        (2, "Customer#000000001", 1, "A"),
        (3, "Customer#000000001", 1, "A"),
        (4, "Customer#000000002", 1, "A"),  # lev 1 vs family 1
        (5, "Customer#000000002", 1, "A"),
        (6, "Customer#000099002", 1, "A"),  # lev 3 vs 002, lev 3 vs 001
        # block (2, 'B'): no exact dups, one lev-2 pair
        (7, "Customer#000000010", 2, "B"),
        (8, "Customer#000000943", 2, "B"),
        (9, "Customer#000011010", 2, "B"),  # lev 2 vs id 7
        # block (3, 'C'): singleton — no pairs at all
        (10, "Customer#000000099", 3, "C"),
    ]
    df = spark.createDataFrame(
        rows, "c_custkey int, c_name string, c_nationkey int, c_mktsegment string"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    got = {
        (r["nationkey"], r["mktsegment"]): r
        for r in graph.q_entity_resolution(spark, str(tmp_path)).collect()
    }
    # brute-force expectation
    import itertools
    from collections import defaultdict

    blocks = defaultdict(list)
    for cid, name, nk, seg in rows:
        blocks[(nk, seg)].append(name)
    for bk, names in blocks.items():
        pairs = list(itertools.combinations(names, 2))
        levs = [_lev(a, b) for a, b in pairs]
        matched = [d for d in levs if d <= 2]
        r = got[bk]
        assert r["n_block_pairs"] == len(pairs), bk
        assert r["n_matched_pairs"] == len(matched), (bk, r)
        want_min = min(matched) if matched else None
        assert r["min_matched_lev"] == want_min, (bk, r)


def test_collapse_exact_families_contract(spark):
    from stock_data_project_spark.operators.dedup import collapse_exact_families

    df = spark.createDataFrame(
        [(5, "x", "B"), (2, "x", "B"), (9, "y", "B"), (1, "x", "C")],
        "id int, s string, blk string",
    )
    got = {
        (r["blk"], r["s"]): (r["rep_id"], r["_m"])
        for r in collapse_exact_families(df, "id", "s", ("blk",)).collect()
    }
    assert got == {("B", "x"): (2, 2), ("B", "y"): (9, 1), ("C", "x"): (1, 1)}


def test_edit_prefix_guard_trips_on_family_corpus(spark):
    """The guard_ratio loud-fail: a near-duplicate family corpus
    (shared 20-char prefix, 1-char suffix variation — members
    genuinely share their rare grams, so NO lossless filter can prune
    them) must raise instead of silently going quadratic."""
    from stock_data_project_spark.operators.dedup import edit_prefix_candidates

    rows = [(i, "B", f"SharedPrefix_Family_X{i % 7}{i}") for i in range(60)]
    df = spark.createDataFrame(rows, "id int, blk string, name string")
    with pytest.raises(RuntimeError, match="collapse"):
        edit_prefix_candidates(
            df, "id", "name", ("blk",), k=2, q=5, guard_ratio=2.0
        )
    # and the same corpus passes with the guard sized above its volume
    assert (
        edit_prefix_candidates(
            df, "id", "name", ("blk",), k=2, q=5, guard_ratio=10_000.0
        ).count()
        > 0
    )
