#!/usr/bin/env python
"""Scale-up smoke: replicate the sf0.1 tables N× with shifted keys
(extended calendar for events, shifted orderkeys for the TPC-H pair,
duplicated corpus for documents) and time the headline plans at the
inflated size. This exercises the actual scale risks — window state
over longer series, join shuffles over more orders, dedup over a
corpus with real duplicate mass — not just a hot loop.

Usage: python tools/scale_smoke.py [N] (default 30)
Prints one JSON line with row counts and per-query seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stock_data_project_spark.catalog import load_table  # noqa: E402
from stock_data_project_spark.plans import all_queries  # noqa: E402
from stock_data_project_spark.session import get_spark  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
QUERIES = (
    "fact_build",
    "rolling_volatility",
    "sessionize",
    "asof_join",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "dedup_exact",
    "dedup_minhash",
    "token_count",
    "text_quality",
    "wilder_rsi",
    "ngram_repetition",
    "tpch_q12",
    "tpch_q13",
    "tpch_q17",
    # r5 families (all registry keys since r5 — no *_next indirection
    # needed): SCD2 build + point-in-time, interval overlap, bigram
    # LM, Misra-Gries, PageRank, CDC diff, BPE encode, quality audit,
    # decontamination, salted join. Quadratic-pair operators stay
    # excluded (the replicated corpus is duplicate-heavy BY
    # CONSTRUCTION — see the raw-minhash note below).
    "scd2_dim",
    "scd2_asof",
    "session_concurrency",
    "bigram_logprob",
    "frequent_tokens",
    "user_influence",
    "snapshot_delta",
    "bpe_token_count",
    "data_quality_audit",
    "contamination_flags",
    "salted_join_revenue",
    # r6 families: mergeable quantile sketch, decimal-fold EMA,
    # TPC-H 18, cohort matrix, apriori pairs, oriented triangles,
    # quota sampling
    "quantile_rollup",
    "sql_decayed_revenue",
    "tpch_q18",
    "cohort_ltv",
    "frequent_pairs",
    "triangle_count",
    "stratified_sample",
    # r7 families: sign-bit-cell semantic dedup (linear per-cell
    # GEMM), histogram-sketch lag percentiles over the orderkey
    # join, as-of last-touch attribution. stream_late_data stays
    # excluded like the other streaming-driven harness keys.
    "semantic_dedup",
    "conversion_lag",
    "funnel_attribution",
    "skew_report",
    "bloom_join_prune",
    # r8 families: report-driven salting, reorder cadence, entropy
    # signal, per-source percentile gate, BM25, radius ANN, zlib
    # signal. stream_distinct_users stays excluded like the other
    # streaming-driven harness keys.
    "skew_salted_revenue",
    "order_gap_stats",
    "token_entropy",
    "quality_percentile_gate",
    "bm25_rank",
    "ann_range_search",
    "doc_compression_ratio",
    "ngram_novelty",
    "cumulative_distinct_users",
    # late-r8 families: decimal-fold Wilder recurrences (state over
    # a longer replicated calendar), triple distributed ntile,
    # decimal Pareto cumsum, brand association rules, exact
    # median/MAD selection, sparse TF-IDF retrieval (the ≥95%-df
    # postings cap is what the replicated corpus stresses), per-dim
    # embedding stats. stream_sliding_avg/stream_funnel_state stay
    # excluded like the other streaming-driven harness keys.
    "adx",
    "trix",
    "rfm_segmentation",
    "pareto_revenue",
    "basket_lift",
    "mad_outliers",
    "tfidf_retrieval",
    "embedding_dim_stats",
    # r9 families: pHash image near-dup (map-only hashing + banded
    # LSH; replica blocks plant their own groups — 5000 % 20 == 0 and
    # 5000 % 100 == 0 keep source/round-robin and group arithmetic
    # consistent under the doc_id shift, so planted pair mass scales
    # LINEARLY with N) and per-window audio spectral features
    # (map-only WAV round-trip kernel).
    # stream_dedup_watermark stays excluded like the other
    # streaming-driven harness keys.
    "image_phash_dedup",
    "audio_spectral",
    "video_scene_cuts",
    "audio_fingerprint_dedup",
    "entity_resolution",
    "winsorized_stats",
    "chunk_documents",
    "cci",
    "force_index",
    "ease_of_movement",
    # late-r9 families: window-sum oscillators + candle recurrence
    # (state over the extended replicated calendar), fully-oracled
    # Lloyd k-means (N× corpus through the per-round broadcast
    # join), hashed linear scorer (map-only), k-core peel +
    # co-purchase Jaccard (the orderkey shift multiplies SUPPORT on
    # the same part node set — a densifying graph, the harder
    # direction). stream_left_join stays excluded like the other
    # streaming-driven harness keys.
    "ultimate_oscillator",
    "vortex",
    "ichimoku",
    "heikin_ashi",
    "parabolic_sar",
    "embedding_kmeans",
    "quality_classifier",
    "embedding_outliers",
    "source_mix_report",
    "retrieval_ndcg",
    "kcore_decomposition",
    "item_similarity",
    "ks_statistic",
    "gini_coefficient",
    "benford_deviation",
    "categorical_association",
    # r10 build. NOTE: replication duplicates anchor vectors across
    # replicas, so groups tie at sim 1.0 cross-replica and the smoke's
    # recall VALUES are not the planted 1.0 — this entry times the
    # plan shape (group join + ivf fit/search); the provable-recall
    # grade runs on the unreplicated testdata only.
    "ann_recall_eval",
    # r10 builds: extended-calendar window stats (acf/seasonal ride
    # the events replication's longer series), 5-row pair t-test
    "acf_returns",
    "seasonal_decompose",
    "welch_ttest",
    "holt_forecast",
    "cusum_anomaly",
    "kruskal_wallis",
    "theil_sen_slope",
    # late-r10 batch, the keys whose INPUT actually scales under the
    # replication (events-calendar / documents keys; since r11 the
    # customer table replicates too — hash-mutated names, see
    # replicate() — so the customer statistics below now carry real
    # scale signal as well).
    # EXCLUDED with reasons: containment_pairs (replication plants n
    # identical copies of every text, so true containment pairs are
    # quadratic BY CONSTRUCTION of the smoke corpus — the
    # dedup_minhash_raw hazard).
    # kendall_tau re-INCLUDED r11: series past operators/pairs
    # EXACT_MAX=256 rows take the deterministic sampled-pair path
    # (O(n·m) per series), so the extended-calendar replication now
    # probes the real scale plan instead of the estimator's O(n²)
    # definition. Same for theil_sen_slope above.
    "kendall_tau",
    # customer-table statistics, in since r11 (customer replicates
    # with distinct-by-construction names): rank tests over 15k·N
    # balances, concentration index, exact-position winsorization
    "mann_whitney_u",
    "one_way_anova",
    "herfindahl_index",
    "spearman_corr",
    "holt_winters",
    "runs_test",
    "ljung_box",
    "jarque_bera",
    "sharpe_sortino",
    "hurst_exponent",
    "variance_ratio",
    "seasonality_strength",
    "event_mutual_info",
    "event_transition_matrix",
    "vocab_growth",
    "zipf_slope",
    "flesch_reading_ease",
    "dsir_importance",
    # r10-close builds: max-CUSUM break scan + lead-lag pair join over
    # the extended calendar. minhash_recall_eval is EXCLUDED for the
    # ann_recall_eval reason transposed to text: replication copies
    # anchor TEXTS across replicas, so every LSH band bucket holds 5n
    # identical-signature docs and the pair join is quadratic in n BY
    # CONSTRUCTION of the smoke corpus (the dedup_minhash_raw hazard);
    # the provable-recall grade runs on unreplicated testdata only.
    "changepoint_detect",
    "lead_lag_corr",
    # r12 corpus-governance builds: aligned-segment winner election
    # (replication plants real cross-replica boilerplate — the
    # min-struct election is partial-aggregatable, so duplicate mass
    # collapses map-side, never quadratic), exact-substring runs
    # (every replicated position is duplicated ⇒ the dup join carries
    # ALL positions — linear and maximal, the honest stress), source
    # rollups and the per-source quota window (both uniform-key).
    "segment_dedup",
    "exact_substring_spans",
    "source_quality_gate",
    "source_quota_resample",
    # r12/r13 graph-ANN: NN-Descent build + warm-started beam search.
    # Replication copies vectors (ann_recall_eval caveat: top-k fills
    # with sim-1.0 replicas, so these time the PLAN — bounded NoN
    # candidates, per-round checkpoints, beam joins — not recall;
    # recall grades run on unreplicated testdata only).
    "knn_graph",
    "graph_ann_search",
    # r13 calibration sweep: one tokenize scan + metadata rollup
    "classifier_calibration",
)


def replicate(spark, out_dir: str, n: int) -> dict[str, int]:
    counts = {}
    reps = spark.range(n).withColumnRenamed("id", "rep")
    # targeted runs replicate only the tables their keys read
    # (SPARK_GRAFT_SMOKE_TABLES, comma list) — the rest are copied
    # 1× so every query still runs; a full sweep replicates all
    which = os.environ.get(
        "SPARK_GRAFT_SMOKE_TABLES",
        "events,orders,lineitem,documents,embeddings,customer",
    )
    wanted = {t.strip() for t in which.split(",") if t.strip()}

    def fan(df, mutate):
        return mutate(df.crossJoin(F.broadcast(reps)))

    if "events" in wanted:
        ev = load_table(spark, SRC, "events")
        max_eid = ev.agg(F.max("event_id")).collect()[0][0] + 1
        fan(
            ev,
            lambda d: d.select(
                (F.col("event_id") + F.col("rep") * max_eid).alias("event_id"),
                (F.col("ts") + F.make_dt_interval(F.col("rep") * 31)).alias("ts"),
                "user_id",
                "event_type",
                "value",
                "props",
            ),
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "events.parquet"))

    if "orders" in wanted or "lineitem" in wanted:
        orders = load_table(spark, SRC, "orders")
        li = load_table(spark, SRC, "lineitem")
        max_ok = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
        fan(
            orders,
            lambda d: d.select(
                (F.col("o_orderkey") + F.col("rep") * max_ok).alias("o_orderkey"),
                "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
            ),
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "orders.parquet"))
        fan(
            li,
            lambda d: d.select(
                (F.col("l_orderkey") + F.col("rep") * max_ok).alias("l_orderkey"),
                "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
                "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
            ),
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "lineitem.parquet"))

    if "documents" in wanted:
        docs = load_table(spark, SRC, "documents")
        max_did = docs.agg(F.max("doc_id")).collect()[0][0] + 1
        fan(
            docs,
            lambda d: d.select(
                (F.col("doc_id") + F.col("rep") * max_did).alias("doc_id"),
                "text", "lang", "source", "n_chars",
            ),
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))

    if "embeddings" in wanted:
        emb = load_table(spark, SRC, "embeddings")
        max_vid = emb.agg(F.max("vec_id")).collect()[0][0] + 1
        fan(
            emb,
            lambda d: d.select(
                (F.col("vec_id") + F.col("rep") * max_vid).alias("vec_id"),
                "embedding",
                "label",
            ),
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "embeddings.parquet"))

    if "customer" in wanted:
        # r11 (verdict item 5): customer replicates too, so the ER/
        # customer-statistics cohort carries real scale signal. The
        # name's WHOLE discriminative region is rebuilt from a
        # per-(custkey, rep) md5 — replicas are distinct ENTITIES
        # sharing only the constant "Customer#" prefix (whose grams
        # are corpus-frequent and never enter a rarest-gram prefix).
        # The first cut kept the base name and appended a 6-hex
        # suffix: that builds a corpus where every name has N-1
        # near-duplicate SIBLINGS (18 of 25 chars + the block shared)
        # — and for a LOSSLESS edit filter, mid-similarity families
        # are genuine candidates (only the verify stage can tell
        # lev 6 from lev 2), so candidate volume was quadratic in N
        # BY CONSTRUCTION of the corpus (measured 15k·C(N,2): 565s at
        # 240×) — the dedup_minhash_raw hazard transposed to ER. Real
        # pipelines collapse exact/near families FIRST (dedup_exact /
        # minhash), then run ER on representatives; this probe times
        # the filter on the distinct-entity shape that remains.
        cust = load_table(spark, SRC, "customer")
        max_ck = cust.agg(F.max("c_custkey")).collect()[0][0] + 1
        other = [c for c in cust.columns if c not in ("c_custkey", "c_name")]
        fan(
            cust,
            lambda d: d.select(
                (F.col("c_custkey") + F.col("rep") * max_ck).alias("c_custkey"),
                F.concat(
                    F.lit("Customer#"),
                    F.substring(
                        F.md5(F.concat_ws("#", "c_custkey", "rep")), 1, 16
                    ),
                ).alias("c_name"),
                *other,
            ),
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "customer.parquet"))

    replicated_big = {t for t in
                      ("events", "orders", "lineitem", "documents",
                       "embeddings", "customer") if t in wanted}
    if "orders" in wanted or "lineitem" in wanted:
        replicated_big |= {"orders", "lineitem"}
    copy_1x = [t for t in ("region", "nation", "customer", "supplier", "part",
                           "events", "orders", "lineitem", "documents",
                           "embeddings") if t not in replicated_big]
    for small in copy_1x:
        src = os.path.join(SRC, f"{small}.parquet")
        dst = os.path.join(out_dir, f"{small}.parquet")
        # single-file parquet (testdata layout) or directory-style
        # (Spark-written) both work
        if os.path.isdir(src):
            shutil.copytree(src, dst, dirs_exist_ok=True)
        else:
            shutil.copy(src, dst)
    for t in sorted(replicated_big):
        counts[t] = spark.read.parquet(os.path.join(out_dir, f"{t}.parquet")).count()
    return counts


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    # optional subset (comma list): re-measure one family cleanly
    # without paying for the whole sweep — contention with any
    # concurrent Spark job inflates timings (SURVEY §4 contention
    # A/B), so targeted re-runs need to be cheap enough to run solo
    subset = os.environ.get("SPARK_GRAFT_SMOKE_KEYS")
    global QUERIES
    if subset:
        wanted = [k.strip() for k in subset.split(",") if k.strip()]
        unknown = set(wanted) - set(QUERIES)
        if unknown:
            raise SystemExit(f"unknown smoke keys: {sorted(unknown)}")
        QUERIES = tuple(wanted)
    # model a cluster sized to its data: shuffle partitions scale with
    # the replication factor (the tpch_q5 240× probe: 98.8s at 32
    # partitions — 4.5M-row spilling sorts — vs 32.7s at a hard 256;
    # initialPartitionNum=256 + AQE coalesce recovered only part of it,
    # 76.8s, because AQE coalesces back toward the 64MB advisory). The
    # same conf raised at TEST scale measured a 1.13× median per-key
    # loss (bench A/B 145.8→181.5s), so the default session keeps
    # partitions = cores and the smoke carries the data-proportional
    # override — exactly what a cluster deployment does via extra_conf.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    scaled_parts = cpus * max(1, min(8, n // 30))
    spark = get_spark(
        "scale_smoke",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.shuffle.partitions": str(scaled_parts),
        },
    )
    out_dir = tempfile.mkdtemp(prefix="scale_smoke_")
    try:
        t0 = time.perf_counter()
        counts = replicate(spark, out_dir, n)
        prep = round(time.perf_counter() - t0, 1)
        qs = all_queries()
        # one unmeasured warmup run per query, matching bench.py:
        # single cold runs would fold one-time codegen/file-index
        # costs into the published scale-up ratios
        for k in QUERIES:
            qs[k](spark, out_dir).write.mode("overwrite").format("noop").save()
        timings = {}
        for k in QUERIES:
            t0 = time.perf_counter()
            qs[k](spark, out_dir).write.mode("overwrite").format("noop").save()
            timings[k] = round(time.perf_counter() - t0, 2)
        if subset:
            # targeted re-measure: skip the lib extras
            print(json.dumps({"replication": n, "prep_sec": prep,
                              "rows": counts, "queries_sec": timings}))
            return
        # the opt-in RAW path: quadratic true-pair output on this
        # duplicate-heavy corpus BY CONSTRUCTION (n copies of every
        # text) — timed to keep the hazard ratio vs the collapse-first
        # default (the plain dedup_minhash timing above) on record
        from stock_data_project_spark.operators.dedup import minhash_candidates

        docs = spark.read.parquet(os.path.join(out_dir, "documents.parquet"))
        t0 = time.perf_counter()
        minhash_candidates(docs, collapse_exact=False).write.mode("overwrite").format(
            "noop"
        ).save()
        timings["dedup_minhash_raw"] = round(time.perf_counter() - t0, 2)

        # the IVF quantizer over the replicated embedding corpus:
        # auto-k tracks the inflated n, the GEMM assign kernel is the
        # cost under test. Blocked pairs are deliberately excluded —
        # a corpus of n identical copies has quadratic true-pair
        # output BY CONSTRUCTION, like the raw minhash path above.
        from stock_data_project_spark.operators.ivf import ivf_assign

        emb_big = spark.read.parquet(os.path.join(out_dir, "embeddings.parquet"))
        t0 = time.perf_counter()
        ivf_assign(emb_big, iters=3, probes=2).write.mode("overwrite").format(
            "noop"
        ).save()
        timings["ivf_assign_embeddings"] = round(time.perf_counter() - t0, 2)

        # global decile over the replicated FACT column — the exact
        # single-partition-window killer distributed_ntile exists for
        from stock_data_project_spark.operators.rank import distributed_ntile

        li_big = spark.read.parquet(os.path.join(out_dir, "lineitem.parquet"))
        t0 = time.perf_counter()
        distributed_ntile(
            li_big.select("l_orderkey", "l_linenumber", "l_extendedprice"),
            10,
            [F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")],
            out_col="price_decile",
        ).write.mode("overwrite").format("noop").save()
        timings["ntile_lineitem"] = round(time.perf_counter() - t0, 2)

        # staged keys at scale, invoked THROUGH their registries (an
        # inline copy of a staged plan body silently drifts when the
        # plan's parameters change before debut): PQ fit/encode/ADC/
        # rerank over the replicated corpus, and the bucketized range
        # join over the replicated event stream. Quadratic-pair
        # operators stay excluded for the reason above.
        from stock_data_project_spark.plans.llm_next import (
            QUERIES_NEXT as LLM_NEXT,
        )
        from stock_data_project_spark.plans.olap import QUERIES as OLAP

        t0 = time.perf_counter()
        LLM_NEXT["ann_pq"](spark, out_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        timings["ann_pq_embeddings"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        OLAP["range_join_clicks"](spark, out_dir).write.mode(
            "overwrite"
        ).format("noop").save()
        timings["range_join_events"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        LLM_NEXT["ann_ivfpq"](spark, out_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        timings["ann_ivfpq_embeddings"] = round(time.perf_counter() - t0, 2)
        print(json.dumps({"replication": n, "prep_sec": prep, "rows": counts, "queries_sec": timings}))
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
