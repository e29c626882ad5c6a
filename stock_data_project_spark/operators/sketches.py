"""Streaming-summary sketches over the corpus.

``heavy_hitters``: exact frequent-token extraction in two
bounded-memory passes — the scale-correct alternative to a full
vocabulary groupBy when only the frequent tail matters (stopword
discovery, tokenizer vocab seeding, spam-token detection).

Pass 1 runs a Misra-Gries summary (capacity m = ceil(1/min_fraction))
independently inside each partition via ``mapInPandas``: any token
with GLOBAL frequency ≥ min_fraction must reach local frequency
≥ min_fraction in at least one partition (averaging argument), and
Misra-Gries retains every token whose local count exceeds
n_part/(m+1) — so the union of per-partition survivors is a
guaranteed SUPERSET of the true heavy hitters. The shuffle carries at
most partitions × m candidate rows, independent of vocabulary size
(a 100 TB web corpus has billions of distinct tokens; the exact
groupBy shuffles all of them, this shuffles thousands).

Pass 2 computes EXACT counts for the candidate set only (explode +
semi join on the broadcast candidates + one groupBy whose key space
is ≤ the candidate count) and filters to the true threshold — no
false positives, no approximate counts in the result.

Tokenization matches ``textops.words`` (lower + whitespace split) so
results agree with the exact ``word_frequency`` plan.

``histogram_quantiles``: the estimator tail of the mergeable
equi-width histogram sketch (``HISTOGRAM_BINS`` bins per key). The
batch ``quantile_rollup`` and ``conversion_lag`` plans and the
streaming ``stream_quantile`` operator all bin their values into
per-(key, bin) counts and finish here, so the three run identical
arithmetic. The estimator is deterministic (floor-binning, cumulative
counts, linear interpolation at rank p·n), which is why all three
keys are fully oracled.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stock_data_project_spark.operators.textops import words

_WS = re.compile(r"\s+")

HISTOGRAM_BINS = 512
HISTOGRAM_PS = (0.5, 0.9, 0.99)


def histogram_quantiles(binned: DataFrame, stats: DataFrame) -> DataFrame:
    """Shared estimator tail for the histogram-sketch quantile keys
    (batch ``quantile_rollup`` and streaming ``stream_quantile`` run
    the identical arithmetic — one implementation, per the repo
    rule). ``binned``: (series_key, bin, n) sketch rows; ``stats``: a
    1-row (_lo, _hi) domain frame. Everything here touches ≤ a few
    thousand rows."""
    spark = binned.sparkSession
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(HISTOGRAM_BINS))
    merged = binned.select(
        "series_key", F.lit(False).alias("is_total"), "bin", "n"
    ).unionByName(
        # the rollup: merge per-type sketches by bin — kilobytes, no
        # fact rescan; the total marker is a flag, never a sentinel
        binned.groupBy("bin")
        .agg(F.sum("n").alias("n"))
        .select(
            F.lit(None).cast("string").alias("series_key"),
            F.lit(True).alias("is_total"),
            "bin",
            "n",
        )
    )
    wp = Window.partitionBy("series_key", "is_total")
    cum = merged.withColumn(
        "cum",
        F.sum("n").over(wp.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("total", F.sum("n").over(wp))
    ps = spark.createDataFrame([(float(p),) for p in HISTOGRAM_PS], "p double")
    # first bin whose cumulative count reaches rank p·total; ≤ 3·types
    # ·512 candidate rows, so the broadcast nested loop is free
    sel = (
        cum.crossJoin(F.broadcast(ps))
        .filter(F.col("cum") >= F.col("p") * F.col("total"))
        .groupBy("series_key", "is_total", "p", "total")
        .agg(F.min_by(F.struct("bin", "n", "cum"), "bin").alias("_s"))
    )
    est = F.col("_lo") + width * (
        F.col("_s.bin")
        + (F.col("p") * F.col("total") - (F.col("_s.cum") - F.col("_s.n")))
        / F.col("_s.n")
    )
    return sel.crossJoin(F.broadcast(stats)).select(
        "series_key",
        "is_total",
        "p",
        F.round(est, 6).alias("approx_value"),
        F.col("total").alias("n_values"),
    )


def _py_tokens(text: str) -> list[str]:
    """Python twin of textops.words(): lower + trim + collapse
    whitespace + split. Kept trivially simple so the two stay equal."""
    norm = _WS.sub(" ", text.strip().lower())
    return norm.split(" ") if norm else []


def heavy_hitters(
    df: DataFrame,
    min_fraction: float = 0.001,
    text_col: str = "text",
) -> DataFrame:
    """All tokens with corpus frequency ≥ ``min_fraction`` of total
    tokens, with EXACT counts: ``(token, n, fraction)``.

    Memory per task is O(1/min_fraction) counters in pass 1; the only
    corpus-sized work is two scans. See module docstring for the
    guarantee.
    """
    if not (0.0 < min_fraction <= 1.0):
        raise ValueError("min_fraction must be in (0, 1]")
    cap = math.ceil(1.0 / min_fraction)

    def mg_partition(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for text in pdf[text_col]:
                if text is None:
                    continue
                for tok in _py_tokens(text):
                    if tok in counters:
                        counters[tok] += 1
                    elif len(counters) < cap:
                        counters[tok] = 1
                    else:
                        # decrement-all step: amortized O(1) per token
                        for key in list(counters):
                            if counters[key] == 1:
                                del counters[key]
                            else:
                                counters[key] -= 1
        if counters:
            yield pd.DataFrame({"token": list(counters.keys())})

    candidates = (
        df.select(text_col)
        .mapInPandas(mg_partition, schema="token string")
        .distinct()
    )

    tokens = df.select(F.explode(words(text_col)).alias("token")).filter(
        F.col("token") != ""
    )
    total = tokens.agg(F.count(F.lit(1)).alias("_total"))
    return (
        tokens.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") >= F.col("_total") * min_fraction)
        .select(
            "token",
            "n",
            F.round(F.col("n") / F.col("_total"), 6).alias("fraction"),
        )
    )


def heavy_hitters_by_key(
    df: DataFrame,
    key_col: str,
    min_fraction: float = 0.001,
    text_col: str = "text",
) -> DataFrame:
    """Per-KEY heavy hitters with exact counts: ``(key, token, n)``
    for every token whose frequency within its key group is ≥
    ``min_fraction`` of that group's tokens.

    The grouped twin of ``heavy_hitters``, same two passes: pass 1
    runs one Misra-Gries summary PER KEY inside each partition
    (memory = keys-per-task × ⌈1/f⌉ counters — repartition by the key
    first at scale so keys-per-task ≈ 1), pass 2 exact-counts the
    (key, token) candidate pairs only. The per-key survivor sets are
    partition-layout-independent (the exact recount + threshold make
    them so, same argument as the global operator).

    This is the finest-grain materialization of the mergeable top-k
    rollup (plans/llm_next3.q_topk_rollup): per-key summaries merge
    to a GLOBAL lower-bound table by summation — the space-saving
    merge — with the averaging-argument guarantee that any token
    globally ≥ f is ≥ f in at least one key group, so the merged
    candidate set contains every true global heavy hitter.
    """
    if not (0.0 < min_fraction <= 1.0):
        raise ValueError("min_fraction must be in (0, 1]")
    cap = math.ceil(1.0 / min_fraction)

    def mg_partition(batches):
        import pandas as pd

        per_key: dict[object, dict[str, int]] = {}
        for pdf in batches:
            for key, text in zip(pdf[key_col], pdf[text_col]):
                if text is None or key is None:
                    continue
                counters = per_key.setdefault(key, {})
                for tok in _py_tokens(text):
                    if tok in counters:
                        counters[tok] += 1
                    elif len(counters) < cap:
                        counters[tok] = 1
                    else:
                        for k2 in list(counters):
                            if counters[k2] == 1:
                                del counters[k2]
                            else:
                                counters[k2] -= 1
        rows = [(k, t) for k, c in per_key.items() for t in c]
        if rows:
            yield pd.DataFrame(rows, columns=[key_col, "token"])

    # candidate frame carries the key at its ORIGINAL dtype — a
    # hardcoded string key would cast-poison the pass-2 semi join for
    # any non-string key column (r6 review finding)
    key_type = dict(df.dtypes)[key_col]
    candidates = (
        df.select(key_col, text_col)
        .mapInPandas(mg_partition, schema=f"{key_col} {key_type}, token string")
        .distinct()
    )
    tokens = df.select(
        key_col, F.explode(words(text_col)).alias("token")
    ).filter(F.col("token") != "")
    totals = tokens.groupBy(key_col).agg(F.count(F.lit(1)).alias("_total"))
    return (
        tokens.join(F.broadcast(candidates), [key_col, "token"], "left_semi")
        .groupBy(key_col, "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(totals), key_col)
        .filter(F.col("n") >= F.col("_total") * min_fraction)
        .select(key_col, "token", "n")
    )
