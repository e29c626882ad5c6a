"""OLAP statistical keys built late in r10, staged for the r12
window.

``one_way_anova`` — the one-way F-test across ALL customer market
segments on account balance (the k-group complement to welch_ttest's
pairwise and kruskal_wallis' rank variants), FULLY oracled via the
exact-moment recipe:

- per-segment n, Σcents (BIGINT) and Σcents² (DECIMAL — Spark
  (12,0)² under the precision cap, oracle (19,0)² for DuckDB's
  int128 tier; widths differ, VALUES exact).
- the only non-integral reduction, T = Σ_g S_g²/n_g, is a 5-element
  DOUBLE sum — made deterministic by accumulating in SEGMENT ORDER
  via a windowed cumulative sum (the kruskal_wallis trick), never a
  plain float aggregate (whose partial order is engine-private).
- SSB = T − S²/N and SSW = ΣQ − T then evaluate in ONE shared
  double-expression string on both engines;
  F = (SSB/(k−1))/(SSW/(N−k)), η² = SSB/(SSB+SSW); degenerate
  inputs → NULL via nullif.

``herfindahl_index`` — supplier revenue concentration per nation
(the Herfindahl–Hirschman index, the standard market-concentration
audit): per-supplier revenue Σ extprice·(1−discount) aggregated in
DECIMAL(18,6) on BOTH engines (the q9 rule — double→decimal cast is
per-value deterministic and decimal addition is exact, so the sum is
partition-order-independent), per-nation shares rounded to 6dp via
the exact-integer HALF_UP identity GENERALIZED to ratios —
round(p/q, 6) = (2·p·1e6 + q) div (2·q) on non-negative DECIMAL(38,0)
units (p·1e6 can reach ~2e21, past BIGINT — the rounding.py identity
lifted to the int128/decimal tier; Spark's ``div`` and DuckDB's
``//`` agree on non-negative operands), and
HHI = Σ share² computed ENTIRELY in integer unit-squares
(u ≤ 1e6 → Σu² ≤ ~1e13 BIGINT) — the whole key is exact until two
final casts to DOUBLE.

Scale shape: one lineitem scan → suppkey hash agg (map-side
partial), broadcast supplier→nation join (dimension-sized), one
nation hash agg. anova is one customer scan + a 5-row window. No
quadratic joins, no collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stock_data_project_spark.catalog import load_table

# shared double-expression strings (identical text on both engines;
# every float literal is kept away from integer-only chains — the
# decimal-literal parse trap documented in plans/statistics.py)
_AOV_SSB = (
    "(t_cum - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)"
    " / CAST(n_total AS DOUBLE))"
)
_AOV_SSW = "(CAST(q_all AS DOUBLE) - t_cum)"
_AOV_F = (
    f"(({_AOV_SSB} / nullif(CAST(k_groups AS DOUBLE) - 1.0, 0.0))"
    f" / nullif({_AOV_SSW} / nullif(CAST(n_total AS DOUBLE) - k_groups, 0.0),"
    f" 0.0))"
)
_AOV_ETA = f"({_AOV_SSB} / nullif({_AOV_SSB} + {_AOV_SSW}, 0.0))"


def q_one_way_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)").alias("cents"),
    )
    g = cust.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(
            F.expr("CAST(cents AS DECIMAL(12,0)) * CAST(cents AS DECIMAL(12,0))")
        ).alias("q"),
    )
    term = (
        "CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    )
    wseg = Window.orderBy("seg").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("seg").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    last = (
        g.withColumn("t_cum", F.sum(F.expr(term)).over(wseg))
        .withColumn("rn", F.row_number().over(Window.orderBy("seg")))
        .withColumn("k_groups", F.count(F.lit(1)).over(wall))
        .withColumn("n_total", F.sum("n").over(wall))
        .withColumn("s_all", F.sum("s").over(wall))
        .withColumn("q_all", F.sum("q").over(wall))
        .filter(F.col("rn") == F.col("k_groups"))
    )
    return last.select(
        F.col("k_groups").cast("int").alias("k_groups"),
        "n_total",
        (F.round(F.expr(_AOV_SSB), 2) + 0.0).alias("ss_between"),
        (F.round(F.expr(_AOV_SSW), 2) + 0.0).alias("ss_within"),
        (F.round(F.expr(_AOV_F), 6) + 0.0).alias("f_stat"),
        (F.round(F.expr(_AOV_ETA), 6) + 0.0).alias("eta_sq"),
    )


def q_herfindahl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.expr(
            "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"
        ).alias("rev_d"),
    )
    supp_rev = li.groupBy("l_suppkey").agg(F.sum("rev_d").alias("rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        supp_rev.join(F.broadcast(supp), supp_rev.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("n_name", F.expr("CAST(rev * 1000000 AS DECIMAL(38,0))").alias("p"))
    )
    wn = Window.partitionBy("n_name")
    # exact HALF_UP(p/q, 6dp) on non-negative DECIMAL units — the
    # rounding.py identity lifted past BIGINT (p*1e6 ~2e21 here)
    shares = joined.withColumn("q_units", F.sum("p").over(wn)).withColumn(
        "u",
        F.expr(
            "CAST((2 * p * 1000000 + q_units) div (2 * q_units) AS BIGINT)"
        ),
    )
    return (
        shares.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.expr("u * u")).alias("uu"),
            F.max("u").alias("u_top"),
        )
        .select(
            "n_name",
            "n_suppliers",
            (F.round(F.expr("CAST(uu AS DOUBLE) / 1e12"), 6) + 0.0).alias("hhi"),
            (
                F.round(F.expr("CAST(u_top AS DOUBLE) / 1e6"), 6) + 0.0
            ).alias("top_share"),
        )
    )


QUERIES_NEXT = {
    "one_way_anova": q_one_way_anova,
    "herfindahl_index": q_herfindahl_index,
}

ORACLE_NEXT = {
    "one_way_anova": f"""
        WITH c AS (
            SELECT c_mktsegment AS seg,
                   CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
            FROM customer
        ),
        g AS (
            SELECT seg, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS s,
                   -- ≥19-digit operands: DuckDB's int64 multiply tier
                   -- overflows at |cents| ~1e6² × rows; int128 is exact
                   sum(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0)))
                       AS q
            FROM c GROUP BY 1
        ),
        cum AS (
            SELECT seg,
                   sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       OVER (ORDER BY seg ROWS UNBOUNDED PRECEDING) AS t_cum,
                   row_number() OVER (ORDER BY seg) AS rn,
                   count(*) OVER () AS k_groups,
                   sum(n) OVER () AS n_total,
                   sum(s) OVER () AS s_all,
                   sum(q) OVER () AS q_all
            FROM g
        )
        SELECT CAST(k_groups AS INT) AS k_groups,
               CAST(n_total AS BIGINT) AS n_total,
               round({_AOV_SSB}, 2) + 0.0 AS ss_between,
               round({_AOV_SSW}, 2) + 0.0 AS ss_within,
               round({_AOV_F}, 6) + 0.0 AS f_stat,
               round({_AOV_ETA}, 6) + 0.0 AS eta_sq
        FROM cum WHERE rn = k_groups
    """,
    "herfindahl_index": """
        WITH sr AS (
            SELECT l_suppkey,
                   sum(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18,6))) AS rev
            FROM lineitem GROUP BY 1
        ),
        shares AS (
            SELECT n.n_name,
                   CAST(rev * 1000000 AS DECIMAL(38,0)) AS p,
                   sum(CAST(rev * 1000000 AS DECIMAL(38,0)))
                       OVER (PARTITION BY n.n_name) AS q_units
            FROM sr
            JOIN supplier s ON sr.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
        ),
        u AS (
            -- DECIMAL // DECIMAL is DOUBLE division in DuckDB (the
            -- decimal twin of the DECIMAL/DECIMAL→DOUBLE trap):
            -- integral floor division needs HUGEINT operands
            SELECT n_name,
                   CAST(CAST(2 * p * 1000000 + q_units AS HUGEINT)
                        // CAST(2 * q_units AS HUGEINT) AS BIGINT) AS u
            FROM shares
        )
        SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
               round(CAST(sum(u * u) AS DOUBLE) / 1e12, 6) + 0.0 AS hhi,
               round(CAST(max(u) AS DOUBLE) / 1e6, 6) + 0.0 AS top_share
        FROM u GROUP BY 1
    """,
}
