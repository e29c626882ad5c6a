"""Named end-to-end query plans.

Each plan module exposes:
- ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]``
- ``ORACLE: dict[str, str]`` — equivalent ANSI SQL for the DuckDB
  correctness oracle (keys without an entry get a rows-only check).

Column-name + rounding parity rule: every computed column is aliased
identically on both sides, and every float that passes through a
non-associative aggregate is rounded to 6 decimals on both sides so
summation-order differences between engines can't flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from stock_data_project_spark.plans import llm, olap, sql_api, stock, stream

# Order matters for the driver's CORRECTNESS gate: it records only the
# FIRST 50 ``all_queries()`` keys (observed r1). Earlier rounds rotated
# the window by reordering modules and in-module dicts; since r4 the
# window is an explicit list — ``_GRADE_ORDER`` — so each round's grading
# set is reviewable as one diff. Keys beyond the list follow in module
# order. New keys MUST debut inside the list in their round.
#
# r15 window (50), per the r14 verdict (item 9): lead with the eight
# r9-evidence keys — the staleness contract's offenders after
# CORRECTNESS_r14 landed (age 5 > MAX_AGE) — then tfidf_retrieval KEPT
# in-window (its r14 fan-out regression fix needs fresh driver
# verification), then re-grades oldest-evidence-first from the
# r10-evidence cohort (41 of its 49 keys, module order). The eight
# r10 keys that do not fit — customers_with_orders,
# distinct_parts_per_supplier, winsorized_stats, sql_decayed_revenue,
# stream_anomaly, stream_scd2, scd2_late_gate, stream_dedup_watermark —
# reach age 4 = MAX_AGE at newest=14 and MUST lead the r16 window.
_GRADE_ORDER = [
    # r9 evidence (age 5 at newest=14; module order: olap, stream)
    "cumulative_distinct_users",
    "rfm_segmentation",
    "pareto_revenue",
    "basket_lift",
    "mad_outliers",
    "stream_distinct_users",
    "stream_sliding_avg",
    "stream_funnel_state",
    # r14 verdict item 9: the fan-out regression fix needs fresh
    # driver evidence
    "tfidf_retrieval",
    # r10-evidence cohort (41 of 49; module order: stock, llm, olap)
    "macd",
    "dim_country",
    "williams_r",
    "cci",
    "force_index",
    "ease_of_movement",
    "tfidf_top_terms",
    "clean_corpus",
    "embedding_dedup",
    "embedding_dedup_ivf",
    "media_pipeline",
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "ngram_jaccard",
    "ann_cosine_topk",
    "ann_lsh",
    "ann_ivf",
    "lang_id",
    "text_quality",
    "token_count",
    "doc_fingerprint",
    "doc_winnow",
    "gopher_quality",
    "ngram_repetition",
    "capped_counts",
    "split_counts",
    "bpe_token_count",
    "pack_stats",
    "remix_counts",
    "image_phash_dedup",
    "audio_spectral",
    "audio_fingerprint_dedup",
    "video_scene_cuts",
    "chunk_documents",
    "approx_stats",
    "tpch_q12",
    "tpch_q13",
    "tpch_q17",
    "rollup_sales",
    "customers_no_orders",
]

# Keys built THIS round that debut in the NEXT round's committed
# window (SURVEY §5 rotation): never driver-graded yet by design.
# tests/test_contract.py::test_driver_evidence_staleness requires
# every never-graded key to be either in _GRADE_ORDER or listed here
# — a key can't sit ungraded silently (the stream_incremental_star
# class); the next rotation MUST pull these into _GRADE_ORDER.
# r15: empty — the round builds no new keys; the window above is
# filled entirely by re-grades.
STAGED_DEBUTS: frozenset[str] = frozenset()

_MODULES = (stock, llm, olap, sql_api, stream)


def _reorder(d: dict) -> dict:
    """Window keys first (in _GRADE_ORDER order), the rest in module
    order — applied identically to queries and oracles."""
    out = {k: d[k] for k in _GRADE_ORDER if k in d}
    out.update({k: v for k, v in d.items() if k not in out})
    return out


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        overlap = out.keys() & m.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query keys: {overlap}")
        out.update(m.QUERIES)
    missing = set(_GRADE_ORDER) - out.keys()
    if missing:
        raise ValueError(f"_GRADE_ORDER keys without a query: {missing}")
    return _reorder(out)


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    queries = all_queries()
    for m in _MODULES:
        overlap = out.keys() & m.ORACLE.keys()
        if overlap:
            raise ValueError(f"duplicate oracle keys: {overlap}")
        unknown = m.ORACLE.keys() - m.QUERIES.keys()
        if unknown:
            raise ValueError(f"oracle keys without a query in {m.__name__}: {unknown}")
        out.update(m.ORACLE)
    assert set(out) <= set(queries)
    return _reorder(out)
