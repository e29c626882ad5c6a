"""LLM-pipeline keys built in r9, staged for the r11 window.

- ``embedding_kmeans`` — Lloyd k-means over the embedding column
  (k=8, R=3 fixed rounds), FULLY ORACLED: the float pipeline is made
  engine-deterministic by (1) casting per-dimension values to
  DECIMAL(18,6) once at entry, (2) rounding each squared-diff term
  to 6dp and summing distances in DECIMAL (summation-order-free, the
  q9 rule), (3) computing every centroid update with the sign-safe
  exact-integer HALF_UP average (operators/rounding) so each round's
  centroids — and therefore the whole trajectory — are bit-identical
  in Spark and DuckDB, and (4) argmin by min(struct(dist, cid)),
  the lexicographic-struct trick both engines share (ties → lowest
  cid). Init = the k smallest vec_ids' vectors; empty clusters keep
  their previous centroid via a left-join coalesce on BOTH engines.
  Output: per-cluster size, inertia (exact decimal sum of assigned
  distances), and exact-integer mean distance.

  Scale shape: the per-round assignment is one broadcast join of the
  k×dims centroid table against the exploded (vec, dim, v) frame +
  two map-side-combinable groupBys ((vec,cid) then (cid,dim));
  centroids localCheckpoint per round (the iterative-plan-growth
  rule). A throughput-first deployment would swap the assignment for
  the mapInPandas GEMM kernel (operators/linalg, the ann_* path) and
  give up the oracle — this key keeps the exact-arithmetic variant
  BECAUSE clustering assignments are the graded observable.

- ``quality_classifier`` — hashed linear document scorer (the
  fastText-style model-based quality gate every curation pipeline
  runs): feature id = 8-bit bucket of md5(token) (two hex digits →
  integer via strpos arithmetic — md5 is the one hash BOTH engines
  evaluate identically, unlike xxhash64, so the key is FULLY
  oracled); weight(f) = ((f·2654435761) mod 1001) − 500, a
  deterministic integer stand-in for trained weights (the plumbing —
  tokenize → hash → bucket → weight-sum — is the operator; swapping
  in a trained vector changes one literal expression). Score and
  token count are exact integers; score-per-token goes through the
  sign-safe exact-integer average (scores can be negative).

  Scale: tokenize+explode → two codegen projections → one
  groupBy(doc_id) with map-side partials. No joins, no UDFs; the
  256-entry weight table is a closed-form expression, so nothing is
  broadcast at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stock_data_project_spark.catalog import load_table
from stock_data_project_spark.operators.rounding import exact_avg6_expr, exact_avg6_sql
from stock_data_project_spark.operators.textops import words
from stock_data_project_spark.plans.llm import _NORM

_K = 8
_ROUNDS = 3


def _vals(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # explode-aware fan-out (the embedding_dim_stats fix): a packed
    # float-array scan under-splits vs its exploded row count
    par = spark.sparkContext.defaultParallelism
    if emb.rdd.getNumPartitions() < par:
        emb = emb.repartition(par)
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "_v")
    ).select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        F.col("_v").cast("double").alias("v"),
    )


def _assign(vals: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cluster, dist_d): nearest centroid by the 6dp-rounded
    decimal distance, ties → lowest cid."""
    dist = (
        vals.join(F.broadcast(cents), "dim")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum(
                F.round((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")), 6)
                .cast("decimal(18,6)")
            ).alias("dist_d")
        )
    )
    amin = F.min(F.struct(F.col("dist_d").alias("d"), F.col("cid").alias("cid")))
    return dist.groupBy("vec_id").agg(amin.alias("_m")).select(
        "vec_id",
        F.col("_m.cid").alias("cluster"),
        F.col("_m.d").alias("dist_d"),
    )


def _final_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster, dist_d) after the fixed Lloyd rounds — the
    shared trajectory behind embedding_kmeans and embedding_outliers
    (checkpointed: callers branch off it). Each key fits from its
    parquet input: the assignment is, in one aggregate, either key's
    output, so it is never memoized across calls."""
    vals = _vals(spark, sf_dir).persist()
    try:
        return _kmeans_rounds(vals)
    finally:
        # release even when a round fails (exception-path variant of
        # the r12 persist-leak class); on success the result is
        # already checkpointed so the unpersist costs nothing
        vals.unpersist()


def _kmeans_rounds(vals: DataFrame) -> DataFrame:
    init_ids = (
        vals.select("vec_id")
        .distinct()
        .orderBy("vec_id")
        .limit(_K)
        .withColumn(
            "cid",
            (F.row_number().over(Window.orderBy("vec_id")) - 1).cast("int"),
        )
    )
    cents = (
        vals.join(F.broadcast(init_ids), "vec_id")
        .select("cid", "dim", F.col("v").alias("c"))
        .localCheckpoint(eager=True)
    )
    asg = None
    for r in range(_ROUNDS):
        asg = _assign(vals, cents)
        if r == _ROUNDS - 1:
            break  # the last update would be unused
        agg = (
            asg.select("vec_id", "cluster")
            .join(vals, "vec_id")
            .groupBy(F.col("cluster").alias("cid"), "dim")
            .agg(
                F.sum(F.col("v").cast("decimal(18,6)")).alias("s_d"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        # empty cluster -> keep previous centroid (left-join coalesce,
        # same shape as the oracle); checkpoint truncates the k^rounds
        # plan growth (CLAUDE.md iterative rule)
        cents = (
            cents.join(agg, ["cid", "dim"], "left")
            .select(
                "cid",
                "dim",
                F.coalesce(
                    exact_avg6_expr("CAST(s_d * 1000000 AS BIGINT)", "n"),
                    F.col("c"),
                ).alias("c"),
            )
            .localCheckpoint(eager=True)
        )
    return asg.localCheckpoint(eager=True)


def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    asg = _final_assignment(spark, sf_dir)
    return (
        asg.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("dist_d").alias("_in_d"),
        )
        .select(
            "cluster",
            "n_members",
            F.round(F.col("_in_d").cast("double"), 6).alias("inertia"),
            exact_avg6_expr("CAST(_in_d * 1000000 AS BIGINT)", "n_members").alias(
                "avg_dist"
            ),
        )
    )


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-to-centroid outlier pruning (the embedding-space
    quality gate next to SemDeDup's near-dup prune): a vector is an
    outlier when its distance exceeds 1.05× its cluster's mean
    distance — tested as 20 · dist_d · n > 21 · Σdist_d in EXACT
    decimal/integer arithmetic, so the flag has no float boundary at
    all (the synthetic embeddings are near-uniform: the dist/mean
    ratio spans only 0.70-1.10, so the classic 2× rule selects
    nothing — the 1.05 threshold flags the real ~5% tail; on natural
    data the threshold is the tunable). Emits only the flagged
    vectors with their cluster context."""
    asg = _final_assignment(spark, sf_dir)
    stats = asg.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dist_d").alias("sum_d"),
    )
    return (
        asg.join(F.broadcast(stats), "cluster")
        .filter(20 * F.col("dist_d") * F.col("n") > 21 * F.col("sum_d"))
        .select(
            "vec_id",
            "cluster",
            F.round(F.col("dist_d").cast("double"), 6).alias("dist"),
            exact_avg6_expr("CAST(sum_d * 1000000 AS BIGINT)", "n").alias(
                "cluster_mean_dist"
            ),
        )
    )


def _kmeans_chain() -> str:
    """WITH-prefix replaying the fixed-round trajectory (shared by
    the kmeans and outliers oracles)."""
    mean_c = exact_avg6_sql("CAST(a.s_d * 1000000 AS BIGINT)", "a.n")
    rounds = []
    # AS MATERIALIZED throughout: each round references its
    # predecessor ~3 times and DuckDB inlines plain CTEs per
    # reference (the kcore 5^R lesson, milder here but still ~3^R
    # re-evaluations of the scan)
    for r in range(1, _ROUNDS + 1):
        prev = f"cents{r - 1}"
        rounds.append(
            f"""dist{r} AS MATERIALIZED (
            SELECT t.vec_id, c.cid,
                   sum(CAST(round((t.v - c.c) * (t.v - c.c), 6)
                            AS DECIMAL(18,6))) AS dist_d
            FROM vals t JOIN {prev} c ON t.dim = c.dim
            GROUP BY t.vec_id, c.cid
        ), asg{r} AS MATERIALIZED (
            SELECT vec_id,
                   struct_extract(min(struct_pack(d := dist_d, cid := cid)),
                                  'cid') AS cluster,
                   struct_extract(min(struct_pack(d := dist_d, cid := cid)),
                                  'd') AS dist_d
            FROM dist{r} GROUP BY vec_id
        )"""
        )
        if r < _ROUNDS:
            rounds.append(
                f"""agg{r} AS MATERIALIZED (
            SELECT a.cluster AS cid, t.dim,
                   sum(CAST(t.v AS DECIMAL(18,6))) AS s_d, count(*) AS n
            FROM asg{r} a JOIN vals t ON t.vec_id = a.vec_id
            GROUP BY 1, 2
        ), cents{r} AS MATERIALIZED (
            SELECT p.cid, p.dim, coalesce({mean_c}, p.c) AS c
            FROM {prev} p LEFT JOIN agg{r} a
              ON a.cid = p.cid AND a.dim = p.dim
        )"""
            )
    chain = ",\n        ".join(rounds)
    return f"""
        WITH vals AS MATERIALIZED (
            SELECT vec_id, CAST(unnest(range(len(embedding))) AS INT) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings
        ), init AS (
            SELECT vec_id,
                   CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
            FROM (SELECT DISTINCT vec_id FROM embeddings
                  ORDER BY vec_id LIMIT {_K})
        ), cents0 AS MATERIALIZED (
            SELECT i.cid, t.dim, t.v AS c
            FROM init i JOIN vals t ON t.vec_id = i.vec_id
        ),
        {chain}"""


def _kmeans_sql() -> str:
    avg_dist = exact_avg6_sql("CAST(sum(dist_d) * 1000000 AS BIGINT)", "count(*)")
    return f"""{_kmeans_chain()}
        SELECT cluster, count(*) AS n_members,
               round(CAST(sum(dist_d) AS DOUBLE), 6) AS inertia,
               {avg_dist} AS avg_dist
        FROM asg{_ROUNDS}
        GROUP BY cluster
    """


def _outliers_sql() -> str:
    mean_d = exact_avg6_sql("CAST(s.sum_d * 1000000 AS BIGINT)", "s.n")
    return f"""{_kmeans_chain()},
        stats AS (
            SELECT cluster, count(*) AS n, sum(dist_d) AS sum_d
            FROM asg{_ROUNDS} GROUP BY cluster
        )
        SELECT a.vec_id, a.cluster,
               round(CAST(a.dist_d AS DOUBLE), 6) AS dist,
               {mean_d} AS cluster_mean_dist
        FROM asg{_ROUNDS} a JOIN stats s ON s.cluster = a.cluster
        WHERE 20 * a.dist_d * s.n > 21 * s.sum_d
    """


# -------------------------------------------------------- quality_classifier

_HEX = "0123456789abcdef"
_WMOD = 1001
_WMUL = 2654435761


def _feature(col: Column) -> Column:
    """8-bit md5 bucket: two hex digits -> [0, 256). instr is 1-based
    on both engines (Spark instr == DuckDB strpos)."""
    h = F.md5(col)
    h1 = F.instr(F.lit(_HEX), F.substring(h, 1, 1)) - 1
    h2 = F.instr(F.lit(_HEX), F.substring(h, 2, 1)) - 1
    return (h1 * 16 + h2).cast("bigint")


def _weight(f: Column) -> Column:
    return (f * F.lit(_WMUL)) % _WMOD - 500


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(words("text")).alias("word")).filter(
        F.col("word") != ""
    )
    scored = toks.select(
        "doc_id", _weight(_feature(F.col("word"))).alias("w")
    ).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("w").alias("score"),
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "score",
        (F.col("score") > 0).cast("int").alias("keep"),
        exact_avg6_expr("score * 1000000", "n_tokens").alias("score_per_token"),
    )


_QC_SQL = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
        FROM documents
    ), feat AS (
        SELECT doc_id,
               CAST((strpos('{_HEX}', substr(md5(word), 1, 1)) - 1) * 16
                    + (strpos('{_HEX}', substr(md5(word), 2, 1)) - 1)
                    AS BIGINT) AS f
        FROM toks WHERE word <> ''
    ), scored AS (
        SELECT doc_id, count(*) AS n_tokens,
               CAST(sum((f * {_WMUL}) % {_WMOD} - 500) AS BIGINT) AS score
        FROM feat GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, score,
           CAST(score > 0 AS INT) AS keep,
           {exact_avg6_sql("score * 1000000", "n_tokens")} AS score_per_token
    FROM scored
"""


# -------------------------------------------------------- source_mix_report


def q_source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mixing report every corpus build prints before
    training: per-source doc/token/char volume, mean tokens per doc,
    and the source's share of total tokens — all counts exact
    integers, both ratios through the exact-integer HALF_UP identity.
    One tokenize scan + two tiny groupBys + a broadcast scalar; at
    100 TB this is a map-side-combinable shuffle of ~|sources| keys."""
    from stock_data_project_spark.catalog import table_rows
    from stock_data_project_spark.plans.llm_next7 import _fan_out

    # tokenize+explode under-splits when the documents scan arrives
    # in few large row-groups (the tfidf_retrieval fix, r10): the
    # explode's row volume is ~tokens, not bytes, so maxPartitionBytes
    # under-parallelizes it — measured 3.7×/doubling at the 60× smoke
    # without the guard. Hash-keyed aggs only: partitioning can't
    # change results.
    docs = _fan_out(
        spark,
        load_table(spark, sf_dir, "documents"),
        rows_hint=table_rows(sf_dir, "documents"),
        rows_per_task=1024,  # tokenize+explode: codegen µs/row
    )
    per_doc = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars_total"),
    )
    # toks (20 rows) feeds the total rollup AND the report join — the
    # r13 before-plan ran the tokenize twice (once under the total's
    # broadcast); eager checkpoint = one tokenize pass, nothing
    # downstream has parallelism to lose (source_quality_gate twin)
    toks = (
        docs.select("source", F.explode(words("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
        .localCheckpoint(eager=True)
    )
    total = toks.agg(F.sum("n_tokens").alias("_tot"))
    return (
        per_doc.join(toks, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            "n_chars_total",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_chars_total",
            exact_avg6_expr("n_tokens * 1000000", "n_docs").alias(
                "avg_tokens_per_doc"
            ),
            exact_avg6_expr("n_tokens * 1000000", "_tot").alias("token_share"),
        )
    )


_MIX_SQL = f"""
    WITH per_doc AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        FROM documents GROUP BY source
    ), toks AS (
        SELECT source, count(*) AS n_tokens
        FROM (SELECT source, unnest(string_split({_NORM}, ' ')) AS word
              FROM documents)
        WHERE word <> ''
        GROUP BY source
    ), total AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM toks)
    SELECT p.source, p.n_docs,
           coalesce(t.n_tokens, 0) AS n_tokens,
           p.n_chars_total,
           {exact_avg6_sql("coalesce(t.n_tokens, 0) * 1000000", "p.n_docs")}
               AS avg_tokens_per_doc,
           {exact_avg6_sql("coalesce(t.n_tokens, 0) * 1000000", "tot")}
               AS token_share
    FROM per_doc p LEFT JOIN toks t ON t.source = p.source
    CROSS JOIN total
"""


# ---------------------------------------------------------- retrieval_ndcg

# NDCG@5 discount weights 1/log2(rank+1), PINNED as 6dp literals
# computed once here and inlined into BOTH engines' expressions —
# neither engine ever evaluates log2, so transcendental-function
# bit-parity never enters the key. Ideal-DCG prefix sums are exact
# decimal sums of the same literals.
import math as _math
from decimal import Decimal as _D

from stock_data_project_spark.plans.llm_next6 import _TOPK as _NDCG_K

# The NDCG cutoff IS the retrieval top-k: ranks come from
# llm_next6's tfidf_retrieval-style top-k, and the ANSI element_at
# below indexes w_arr by that rank — a larger _TOPK without a
# matching weight table would throw at runtime. Import the coupling
# so a future _TOPK change propagates instead of failing in ANSI.
_NDCG_W = [round(1.0 / _math.log2(i + 1), 6) for i in range(1, _NDCG_K + 1)]
_NDCG_CUMW = []
_acc = _D(0)
for _w in _NDCG_W:
    _acc += _D(str(_w))
    _NDCG_CUMW.append(str(_acc))
del _acc, _w


def q_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation of the tfidf_retrieval output —
    the offline eval step every retrieval/RAG pipeline runs at scale:
    binary relevance = language match between query and retrieved
    doc; DCG@5 with the pinned literal discounts; ideal DCG from the
    corpus-wide relevant count (capped at k); NDCG through the
    exact-integer rounded-ratio identity. Everything downstream of
    the (already fully-oracled) retrieval is exact decimal/integer,
    so the eval composes without adding any float surface."""
    from stock_data_project_spark.plans.llm_next6 import q_tfidf_retrieval

    ret = q_tfidf_retrieval(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    qlang = docs.select(
        F.col("doc_id").alias("query_id"), F.col("lang").alias("q_lang")
    )
    ret_l = (
        ret.join(F.broadcast(qlang), "query_id")
        .join(docs, "doc_id")
        .withColumn("rel", (F.col("lang") == F.col("q_lang")).cast("int"))
    )
    w_arr = F.array(
        *[F.lit(w).cast("decimal(18,6)") for w in _NDCG_W]
    )
    dcg = ret_l.groupBy("query_id", "q_lang").agg(
        F.sum(
            F.when(F.col("rel") == 1, F.element_at(w_arr, F.col("rank")))
            .otherwise(F.lit(0).cast("decimal(18,6)"))
        ).alias("dcg_d"),
        F.count(F.lit(1)).alias("n_retrieved"),
    )
    # corpus-wide relevant count per query lang (minus the query doc
    # itself, which retrieval excludes)
    lang_n = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    cum_arr = F.array(*[F.lit(c).cast("decimal(18,6)") for c in _NDCG_CUMW])
    out = (
        dcg.join(
            F.broadcast(lang_n), dcg["q_lang"] == lang_n["lang"]
        )
        .withColumn("n_relevant", (F.col("n_lang") - 1).cast("bigint"))
        .withColumn(
            "idcg_d",
            F.when(
                F.col("n_relevant") >= 1,
                F.element_at(cum_arr, F.least(F.col("n_relevant"), F.lit(_NDCG_K)).cast("int")),
            ),
        )
    )
    return out.select(
        "query_id",
        "n_retrieved",
        "n_relevant",
        F.round(F.col("dcg_d").cast("double"), 6).alias("dcg"),
        F.when(
            F.col("idcg_d").isNotNull(),
            exact_avg6_expr(
                "CAST(dcg_d * 1000000 AS BIGINT) * 1000000",
                "CAST(idcg_d * 1000000 AS BIGINT)",
            ),
        ).alias("ndcg"),
    )


def _ndcg_sql() -> str:
    from stock_data_project_spark.plans.llm_next6 import _TFIDF_SQL

    w_case = " ".join(
        f"WHEN {i + 1} THEN CAST({w} AS DECIMAL(18,6))"
        for i, w in enumerate(_NDCG_W)
    )
    cum_case = " ".join(
        f"WHEN {i + 1} THEN CAST({c} AS DECIMAL(18,6))"
        for i, c in enumerate(_NDCG_CUMW)
    )
    ratio = exact_avg6_sql(
        "CAST(dcg_d * 1000000 AS BIGINT) * 1000000",
        "CAST(idcg_d * 1000000 AS BIGINT)",
    )
    return f"""
        WITH ret AS MATERIALIZED (
            SELECT * FROM ({_TFIDF_SQL})
        ), dl AS (
            SELECT doc_id, lang FROM documents
        ), rel AS (
            SELECT r.query_id, r.rank,
                   CASE WHEN d.lang = q.lang THEN 1 ELSE 0 END AS rel
            FROM ret r
            JOIN dl d ON d.doc_id = r.doc_id
            JOIN dl q ON q.doc_id = r.query_id
        ), dcg AS (
            SELECT query_id,
                   sum(CASE WHEN rel = 1
                            THEN CASE rank {w_case} END
                            ELSE CAST(0 AS DECIMAL(18,6)) END) AS dcg_d,
                   count(*) AS n_retrieved
            FROM rel GROUP BY query_id
        ), lang_n AS (
            SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
        ), idcg AS (
            SELECT dcg.*,
                   CAST(ln.n_lang - 1 AS BIGINT) AS n_relevant,
                   CASE WHEN ln.n_lang - 1 >= 1
                        THEN CASE least(ln.n_lang - 1, {_NDCG_K}) {cum_case} END
                   END AS idcg_d
            FROM dcg
            JOIN dl q ON q.doc_id = dcg.query_id
            JOIN lang_n ln ON ln.lang = q.lang
        )
        SELECT query_id, n_retrieved, n_relevant,
               round(CAST(dcg_d AS DOUBLE), 6) AS dcg,
               CASE WHEN idcg_d IS NOT NULL THEN {ratio} END AS ndcg
        FROM idcg
    """


QUERIES_NEXT = {
    "embedding_kmeans": q_embedding_kmeans,
    "embedding_outliers": q_embedding_outliers,
    "quality_classifier": q_quality_classifier,
    "source_mix_report": q_source_mix_report,
    "retrieval_ndcg": q_retrieval_ndcg,
}

ORACLE_NEXT = {
    "embedding_kmeans": _kmeans_sql(),
    "embedding_outliers": _outliers_sql(),
    "quality_classifier": _QC_SQL,
    "source_mix_report": _MIX_SQL,
    "retrieval_ndcg": _ndcg_sql(),
}
