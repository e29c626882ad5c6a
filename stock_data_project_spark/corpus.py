"""End-to-end training-corpus builder: the LLM-data operators
composed into one deterministic pipeline.

    raw documents
      → PII scrub [opt]                  (map-only regexp chain)
      → boilerplate-line removal [opt]   (2 uniform-key shuffles)
      → quality + language gate          (map-only, fuses into scan)
      → exact dedup                      (1 shuffle on content_hash)
      → near-dup removal [opt]           (block shuffle + O(log n) CC rounds)
      → LM-score gate [opt]              (token shuffle + vocab join)
      → benchmark decontamination        (broadcast shingles, anti join)
      → per-source cap                   (k-row count + map-only keeps)
      → train/val/test hash split       (map-only)
      → token counts                     (map-only)
      → sequence packing, every split    (one (split, hash-group) FFD exchange)
      → parquet partitioned by split     (rebalanced: one file per split)

Every keep/route decision is a pure function of document content and
(id, seed), so a re-run over the same input reproduces the same
corpus bit-for-bit on any cluster layout — the property that makes a
100 TB pipeline debuggable. The only corpus-sized shuffles are the
dedup groupBy, the one packing group exchange (all splits together)
and the rebalance on split ahead of the write; every gate is map-only
against broadcast metadata.

This is a library entry point (side-effecting writer + stats report),
not a ``queries()`` plan; ``tests/test_corpus_pipeline.py`` drives it
end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_data_project_spark.operators.dedup import (
    incremental_dedup,
    ngram_contamination,
)
from stock_data_project_spark.operators.packing import pack_sequences
from stock_data_project_spark.operators.sampling import cap_per_key, hash_split
from stock_data_project_spark.operators.textops import (
    predicted_lang,
    with_quality,
    with_token_counts,
)
from stock_data_project_spark.sources.writers import write_partitioned


def build_training_corpus(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    benchmark: DataFrame | None = None,
    splits: dict[str, float] | None = None,
    max_per_source: int | None = None,
    quality_min: float = 0.5,
    seq_budget: int = 512,
    seed: int = 42,
    scrub_pii: bool = False,
    drop_boilerplate_lines: bool = False,
    near_dups: bool = False,
    min_logprob: float | None = None,
) -> dict[str, int | dict[str, int]]:
    """Run the full gate chain over ``docs`` and write the packed
    corpus to ``out_dir`` partitioned by split, one file per split
    (``sources.writers.write_partitioned``). Returns a stats dict: the
    input count, the kept count and the per-split sizes (0 for a split
    that got no docs). The kept and per-split counts come from one
    grouped count over the cached survivor frame, which also fills
    the cache and sizes the packing groups, so the report costs one
    corpus materialization, not one scan per split.

    Optional gates (all deterministic, so the bit-for-bit re-run
    property holds with any combination):
    - ``scrub_pii`` — redact emails/IPs/phones BEFORE hashing, so the
      scrubbed text is the canonical content every later stage
      (dedup, decontamination, token counts) sees;
    - ``drop_boilerplate_lines`` — CCNet-style cross-corpus repeated
      line removal;
    - ``near_dups`` — blocked-jaccard pairs → connected components →
      min-id keeper (drops every non-representative near-duplicate);
    - ``min_logprob`` — drop docs whose mean corpus-unigram log-prob
      is below the threshold (the model-free perplexity tail gate).
    """
    splits = splits or {"train": 0.9, "val": 0.05, "test": 0.05}

    text_rewritten = False
    if scrub_pii:
        from stock_data_project_spark.operators.textops import pii_scrub

        docs_cols = [c for c in docs.columns if c != "text"]
        docs = docs.select(*docs_cols, pii_scrub("text").alias("text"))
        text_rewritten = True
    if drop_boilerplate_lines:
        from stock_data_project_spark.operators.dedup import line_dedup

        keep_cols = docs.columns
        docs = line_dedup(docs).select(*keep_cols)
        text_rewritten = True
    if text_rewritten and "n_chars" in docs.columns:
        # text-rewriting gates invalidate the ingest-time length: the
        # near-dup blocker buckets on n_chars (a stale 820 vs a real
        # 520 puts near-dups in different buckets and the pair is
        # never generated), and the written corpus must not ship
        # n_chars != len(text)
        docs = docs.withColumn("n_chars", F.length("text").cast("long"))

    gated = (
        with_quality(docs)
        .withColumn("pred_lang", predicted_lang("text"))
        .filter((F.col("quality_score") >= quality_min) & (F.col("pred_lang") != "und"))
        .select(*docs.columns)
    )
    deduped, _ = incremental_dedup(gated)

    if near_dups:
        from stock_data_project_spark.operators.dedup import (
            blocked_jaccard_pairs,
            dedup_clusters,
        )

        clusters = dedup_clusters(blocked_jaccard_pairs(deduped))
        losers = clusters.filter(F.col("member_id") != F.col("cluster_id")).select(
            F.col("member_id").alias("doc_id")
        )
        deduped = deduped.join(losers, "doc_id", "left_anti")

    if min_logprob is not None:
        from stock_data_project_spark.operators.textops import unigram_logprob_scores

        # shared scorer (rounded 6dp → threshold decisions are
        # deterministic across partition layouts). Inner join: every
        # doc here has non-NULL text (exact dedup already excluded
        # NULL), so unscored docs cannot exist — and if they ever
        # could, dropping them is the gate's intent
        scores = unigram_logprob_scores(deduped).select(
            "doc_id", F.col("avg_logprob").alias("_lp")
        )
        deduped = (
            deduped.join(scores, "doc_id")
            .filter(F.col("_lp") >= min_logprob)
            .drop("_lp")
        )

    if benchmark is not None:
        flagged = ngram_contamination(deduped, benchmark).select("doc_id")
        deduped = deduped.join(flagged, "doc_id", "left_anti")

    if max_per_source is not None:
        deduped = cap_per_key(deduped, max_per_source, key_cols="source", seed=seed)

    routed = with_token_counts(
        hash_split(deduped, splits, seed=seed)
    ).withColumnRenamed("n_regex_tokens", "n_tokens")
    routed = routed.cache()
    try:
        # one grouped count fills the cache and gives every split's
        # size; the sizes also set each split's packing group count
        sizes = {r["split"]: r["count"] for r in routed.groupBy("split").count().collect()}
        stats: dict = {
            "input": docs.count(),
            "kept": sum(sizes.values()),
            "per_split": {name: sizes.get(name, 0) for name in splits},
        }
        # every split packs in one FFD exchange; bin_id is namespaced
        # WITHIN its split, so the bin key is (split, bin_id), matching
        # the partitioned layout a loader reads one split at a time
        bins = pack_sequences(
            routed,
            seq_budget,
            tokens_col="n_tokens",
            by=["split"],
            rows={(name,): n for name, n in sizes.items()},
        ).select("doc_id", "split", "bin_id", "oversize")
        write_partitioned(routed.join(bins, ["doc_id", "split"]), out_dir, ["split"])
        return stats
    finally:
        routed.unpersist()
