"""Data-quality gates and distribution/hypothesis tests.

The checks a 100 TB data-quality / drift-monitoring pipeline runs
beside the warehouse queries of ``plans/olap.py``: row-level audits
and constraint gates, robust statistics, distribution-level drift
and concentration measures, and the classical two-sample and k-group
hypothesis tests. Every key is engineered to be EXACTLY oracle-able:
values are mapped to exact integers (cents, counts), reductions run
in BIGINT or scale-0 DECIMAL, and only the final ratio enters DOUBLE
with the same expression shape on both engines, rounded 6dp with the
``+ 0.0`` sign normalization wherever a difference can pass through
zero. Averages and ratios of integers go through the exact-integer
HALF_UP identity (operators/rounding).

Row-level audits
----------------
- ``data_quality_audit`` — column profile of lineitem: per-column
  nulls, exact distincts, min/max (numerics as doubles, timestamps
  as epoch-micros, strings lexicographic). Exact distincts run as
  one column-PRUNED scan each (see the function doc for the
  measured 8× win over the multi-distinct EXPAND); at 100 TB swap
  approx_count_distinct per the approx_stats key.
- ``expectation_gate`` — rule-based constraint check (range rules in
  one conditional-agg scan + a referential anti-join), reporting
  violations per rule: the admission gate of a 100 TB ingest, where
  quarantining runs on the same predicates.

Robust statistics
-----------------
- ``mad_outliers`` — robust anomaly profile per (event_type, week):
  exact median / median-absolute-deviation via the rank-the-middle
  trick (row_number + integer middle positions + avg of ≤2 rows —
  engine quantile interpolation never enters), then |v−med| > 3·MAD
  flags. Group grain (type × week) keeps window partitions bounded;
  the unbounded-group-size plan is the mergeable histogram sketch
  (quantile_rollup) — this key is the exact complement.
- ``winsorized_stats`` — robust per-segment balance statistics with
  exact-position percentile capping: p01/p99 = the value at ordered
  position ceil(q·n) (integer arithmetic: (q·n + 99) div 100 — no
  engine quantile interpolation anywhere, the mad_outliers rule),
  values clamped to [p01, p99], and the winsorized mean computed in
  DECIMAL sums + the exact-integer HALF_UP average (c_acctbal can be
  negative → the sign-safe branch matters). The grain (segment ×
  nation) keeps window partitions bounded; the unbounded-group plan
  is the histogram sketch (quantile_rollup) — this is the exact
  complement, like mad_outliers is for the median.

Distribution and drift
----------------------
- ``ks_statistic`` — two-sample Kolmogorov-Smirnov distance between
  the BUILDING- and MACHINERY-segment order-value distributions (the
  standard drift test between two cohorts): prices are mapped to
  exact integer cents, and D = max |ECDF_a − ECDF_b| is computed as
  max |ca·m − cb·n| over distinct values IN PURE BIGINT — the KS
  statistic is rational with denominator n·m, so the whole test
  short of the final division is exact integer arithmetic, and the
  division goes through the exact-integer HALF_UP identity. The
  running ECDF window runs over the post-agg distinct-value table
  (domain-bounded, the cumulative_distinct_users class).
- ``gini_coefficient`` — per-segment Gini concentration of customer
  revenue (the inequality twin of pareto_revenue's cumulative-share
  view): G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over rank-ordered exact
  integer cents (ties broken by custkey — pinned ordering). Numerator
  and denominator are exact BIGINTs; the single final division is
  double over identical integers (an arbitrary-integer ratio is not
  the structural power-of-two tie class), rounded 6dp + signed-zero
  guard on both engines.
- ``benford_deviation`` — first-significant-digit distribution of
  order values vs Benford's law (the classic fabricated-data audit):
  first digit extracted via integer→VARCHAR→substr (NO log10 — both
  engines stringify a BIGINT identically, so digit extraction is
  exact even at powers of ten); expected shares log10(1+1/d) PINNED
  as 6dp literals (the retrieval_ndcg trick); observed shares through
  the exact-integer ratio identity.
- ``categorical_association`` — chi-square association audit of the
  documents lang × source contingency table (the categorical-drift
  check): observed counts exact; expected = row·col/N and the cell
  χ² in double over identical exact integers, rounded 6dp. 100 cells
  out of three ~|categories|-key groupBys + broadcast joins.
- ``herfindahl_index`` — supplier revenue concentration per nation
  (the Herfindahl–Hirschman index, the standard market-concentration
  audit): per-supplier revenue Σ extprice·(1−discount) aggregated in
  DECIMAL(18,6) on BOTH engines (the q9 rule — double→decimal cast is
  per-value deterministic and decimal addition is exact, so the sum
  is partition-order-independent), per-nation shares rounded to 6dp
  via the exact-integer HALF_UP identity GENERALIZED to ratios —
  round(p/q, 6) = (2·p·1e6 + q) div (2·q) on non-negative
  DECIMAL(38,0) units (p·1e6 can reach ~2e21, past BIGINT — the
  rounding.py identity lifted to the int128/decimal tier; Spark's
  ``div`` and DuckDB's ``//`` agree on non-negative operands), and
  HHI = Σ share² computed ENTIRELY in integer unit-squares
  (u ≤ 1e6 → Σu² ≤ ~1e13 BIGINT) — the whole key is exact until two
  final casts to DOUBLE. Scale shape: one lineitem scan → suppkey
  hash agg (map-side partial), broadcast supplier→nation join
  (dimension-sized), one nation hash agg.

Hypothesis tests on customer balances
-------------------------------------
Every test below reads the same frame: market segment and the
account balance as exact cents (``_seg_balance_cents``). Scale shape: one
customer scan feeds each test; everything after it is segment-sized
(5 segments, 10 pairs) or domain-bounded (distinct cents).

- ``welch_ttest`` — Welch's unequal-variance t-test between every
  pair of customer market segments (the A/B-test primitive every
  experimentation pipeline runs). Per-segment n, Σx, Σx² are exact
  integers; the variance numerator n·Σx² − (Σx)² is computed in
  scale-0 DECIMAL (widths chosen so BOTH engines stay exact: DuckDB
  needs operand widths summing ≤ 38 — (12,0)·(25,0) and (19,0)²
  (int128 tier; DuckDB's int64-tier multiply overflows) — while
  Spark's same casts cap at precision 38 with scale 0, which never
  truncates). Only then does the math enter DOUBLE, with the SAME
  expression shape on both engines: mean = S/n, se² =
  var_num/(n·n·(n−1)) (= s²/n without ever forming s² separately),
  t = (m₁−m₂)/√(se₁²+se₂²), Welch–Satterthwaite df = (se₁²+se₂²)²/
  (se₁⁴/(n₁−1) + se₂⁴/(n₂−1)). IEEE doubles make identical
  expression trees bit-equal (sqrt is correctly rounded per IEEE-754
  on both). Zero-variance degenerate pairs yield NULL via nullif
  guards. The triangular self-join of the 5-row stats table is
  broadcast (the ntile_deciles metadata-sized BNL class, whitelisted
  in tools/plan_audit.py).
- ``kruskal_wallis`` — the k-group rank test (rank ANOVA) across ALL
  segments. Ranks with average ties are carried in HALF-UNITS: for a
  distinct cents value with t occurrences after cum_before smaller
  rows, 2·avg_rank = 2·cum_before + t + 1 — an exact BIGINT.
  Per-group rank sums R2_i = Σ m·r2 stay integral; the tie
  correction Σ(t³−t) likewise. The ranking window runs over the
  DISTINCT-CENTS table (domain-bounded, the ks_statistic precedent),
  never over the raw rows; the raw table only feeds two hash
  aggregations and one equi-join. The only non-integral reduction,
  S = Σ R2_i²/(4·n_i), is a 5-element DOUBLE sum — made
  deterministic by accumulating in SEGMENT ORDER via a windowed
  cumulative sum (identical fold order on both engines), not a plain
  aggregate (whose partial order is engine-private). H and the
  tie-corrected H/C then evaluate in identically-shaped double
  arithmetic.
- ``mann_whitney_u`` — the two-sample rank-sum test (Mann–Whitney U /
  Wilcoxon) between EVERY pair of segments. U for pair (a,b) ranks
  only a∪b, so the kruskal_wallis global ranking does not apply per
  pair. Instead each pair carries its own per-value cumulative
  counts: per (pair, cents) the m_a, m_b occurrence counts
  (conditional agg over a 10-row broadcast pair table), then per-pair
  windows give cum_a/cum_b = rows strictly below. The average-tie
  rank identity in HALF-UNITS: 2·R_a = Σ_v m_a·(2(cum_a+cum_b) + m_a
  + m_b + 1), all BIGINT-exact; 2·U_a = 2·R_a − n_a(n_a+1). The tie
  correction Σ(t³−t) with t = m_a+m_b per value is exact
  (DECIMAL(12,0) products so DuckDB's int64 tier can't overflow).
  Only the final z enters DOUBLE: z = ((2U − n_a·n_b)/2) / sqrt(n_a·
  n_b/12 · ((n+1) − ΣT/(n(n−1)))); u_stat itself is the exact
  half-integer 2U/2. Degenerate pairs (all values tied → σ = 0)
  yield NULL via nullif. The pair join is an inequality over 10 rows
  (the metadata-sized BNL class, whitelisted); one window per pair
  partition over the values table (bounded by 10 × distinct cents).
- ``one_way_anova`` — the one-way F-test across ALL segments (the
  k-group complement to welch_ttest's pairwise and kruskal_wallis'
  rank variants), via the exact-moment recipe: per-segment n,
  Σcents (BIGINT) and Σcents² (DECIMAL — Spark (12,0)² under the
  precision cap, oracle (19,0)² for DuckDB's int128 tier; widths
  differ, VALUES exact). The only non-integral reduction, T = Σ_g
  S_g²/n_g, is a 5-element DOUBLE sum made deterministic by the
  kruskal_wallis segment-order window. SSB = T − S²/N and SSW = ΣQ −
  T then evaluate in ONE shared double-expression string on both
  engines; F = (SSB/(k−1))/(SSW/(N−k)), η² = SSB/(SSB+SSW);
  degenerate inputs → NULL via nullif.

Event-stream information
------------------------
- ``event_transition_matrix`` — the first-order Markov transition
  matrix over per-user event streams: counts and row-normalized
  probabilities for every (prev_type → next_type) step. Ordering is
  (ts, event_id) so same-ts rows (possible in other datasets; absent
  here, asserted in tests) break ties deterministically on both
  engines. Probabilities go through the exact-integer HALF_UP
  average, never a double division that could land on the 5e-7
  rounding tie. One window over (user_id) + one hash agg — both reuse
  the same exchange; scale-safe (state is one lag row).
- ``event_mutual_info`` — mutual information (and normalized MI)
  between event type and hour-of-day: the information-theoretic
  dependence audit that complements categorical_association's
  chi-square (MI measures the dependence in nats; chi-square tests
  it). I(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))), H(X) = ln N − Σ
  c_x·ln(c_x)/N, NMI = I/min(H(X), H(Y)). All counts are exact
  BIGINTs from one cell aggregation (marginals via windows over the
  120-cell table, never a second scan); each per-cell log-ratio
  ln((c_xy·N)/(c_x·c_y)) and each marginal ln(c) is a double over
  EXACT integers with the identical expression shape, rounded
  HALF-even to 6dp and cast to DECIMAL(12,6) (the unigram_logprob /
  dsir libm-absorption precedent); the Σ c·w reductions are exact
  DECIMAL sums — order-independent — and only the final /N division
  runs in shared-shape double. Hour-of-day is pure epoch arithmetic
  (epoch_us div 3600e6 mod 24), immune to the engines'
  timezone/extract disagreements (the seasonal_decompose dow rule).
  ONE events scan → (type, hour) hash agg with map-side partials (120
  cells at any corpus size); output is a single row.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stock_data_project_spark.catalog import load_table
from stock_data_project_spark.operators.rounding import exact_avg6_expr, exact_avg6_sql


# -------------------------------------------------- row-level audits

_NUM_COLS = ("l_quantity", "l_extendedprice", "l_discount")
_STR_COLS = ("l_returnflag", "l_linestatus")
_TS_COLS = ("l_shipdate",)


def q_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row-pass for nulls/min/max/count + one column-PRUNED scan
    per exact distinct, unioned and broadcast back. Measured 8× faster
    (8.3s → 1.0s at sf0.1) than the single agg with six
    count_distincts: multiple distinct aggregates compile to an
    EXPAND that multiplies the full row volume by the distinct count
    through one wide hash aggregate, while a per-column scan reads
    ONE parquet column and partial-aggregates before its shuffle.
    Same trade at 100 TB — distinct columns scan in parallel, each
    column-pruned — though the honest answer at that scale is
    approx_count_distinct (see module doc)."""
    li = load_table(spark, sf_dir, "lineitem")
    all_cols = _NUM_COLS + _STR_COLS + _TS_COLS
    nd = None
    for c in all_cols:
        # NULL excluded to match count(DISTINCT col) semantics — the
        # oracle's and SQL's; a bare groupBy would count the NULL
        # group as a distinct value and diverge the first time a
        # regenerated dataset contains one (r5 review finding)
        d = (
            li.select(c)
            .filter(F.col(c).isNotNull())
            .groupBy(c)
            .agg(F.lit(1))
            .agg(F.count(F.lit(1)).alias(f"{c}__nd"))
        )
        nd = d if nd is None else nd.crossJoin(d)
    aggs, structs = [], []
    for c in all_cols:
        aggs.append(F.sum(F.col(c).isNull().cast("bigint")).alias(f"{c}__nn"))
        if c in _NUM_COLS:
            aggs += [
                F.min(c).cast("double").alias(f"{c}__mn"),
                F.max(c).cast("double").alias(f"{c}__mx"),
            ]
        elif c in _TS_COLS:
            # l_shipdate is TIMESTAMP_NTZ in this testdata generation;
            # NTZ→LTZ cast is the identity under the pinned UTC session
            # zone and unix_micros requires LTZ
            aggs += [
                F.unix_micros(F.min(c).cast("timestamp")).cast("double").alias(
                    f"{c}__mn"
                ),
                F.unix_micros(F.max(c).cast("timestamp")).cast("double").alias(
                    f"{c}__mx"
                ),
            ]
        else:
            aggs += [F.min(c).alias(f"{c}__mn"), F.max(c).alias(f"{c}__mx")]
    aggs.append(F.count(F.lit(1)).alias("__n"))
    wide = li.agg(*aggs).crossJoin(F.broadcast(nd))
    for c in _NUM_COLS + _STR_COLS + _TS_COLS:
        is_str = c in _STR_COLS
        structs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                F.col(f"{c}__nn").alias("n_null"),
                F.col(f"{c}__nd").alias("n_distinct"),
                (F.lit(None).cast("double") if is_str else F.col(f"{c}__mn")).alias(
                    "min_num"
                ),
                (F.lit(None).cast("double") if is_str else F.col(f"{c}__mx")).alias(
                    "max_num"
                ),
                (F.col(f"{c}__mn") if is_str else F.lit(None).cast("string")).alias(
                    "min_str"
                ),
                (F.col(f"{c}__mx") if is_str else F.lit(None).cast("string")).alias(
                    "max_str"
                ),
            )
        )
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def q_expectation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    rules = {
        "quantity_in_1_50": ~F.col("l_quantity").between(1, 50)
        | F.col("l_quantity").isNull(),
        "price_positive": (F.col("l_extendedprice") <= 0)
        | F.col("l_extendedprice").isNull(),
        "discount_in_0_1": ~F.col("l_discount").between(0, 1)
        | F.col("l_discount").isNull(),
        "shipdate_not_null": F.col("l_shipdate").isNull(),
    }
    aggs = [
        F.sum(cond.cast("bigint")).alias(name) for name, cond in rules.items()
    ] + [F.count(F.lit(1)).alias("__n")]
    wide = li.agg(*aggs)
    scan_rows = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("rule"),
                        F.col(name).alias("n_violations"),
                        F.col("__n").alias("n_rows"),
                    )
                    for name in rules
                ]
            )
        ).alias("s")
    ).select("s.*")
    orphans = (
        li.join(
            orders.select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_violations"))
        # reuse the conditional-agg scan's count — no third lineitem
        # pass just to recount rows (r5 review finding)
        .crossJoin(F.broadcast(wide.select(F.col("__n").alias("n_rows"))))
        .select(
            F.lit("orderkey_in_orders").alias("rule"), "n_violations", "n_rows"
        )
    )
    return scan_rows.unionByName(orphans)


_SKEW_TOPK = 10


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile of the lineitem⋈orders key — the
    warehouse-ops report that decides whether a join needs salting:
    (a) the full fanout histogram (rows-per-orderkey → number of
    keys) and (b) the top-K heaviest keys, in one two-part output
    (kind ∈ {'fanout_hist', 'top_key'}).

    Plan shape: ONE map-side-partial groupBy on the join key; the
    histogram is a second groupBy over the tiny fanout domain; the
    top-K is orderBy+limit, which Spark executes as
    TakeOrderedAndProject — per-partition local top-K merged on the
    driver, never a global sort (the single-partition window
    row_number idiom would serialize |keys| rows through one task).
    Ties at the cut are broken by key asc, so the selection is a
    total order and fully oracled."""
    li = load_table(spark, sf_dir, "lineitem")
    fan = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("fanout"))
    hist = (
        fan.groupBy("fanout")
        .agg(F.count(F.lit(1)).alias("v"))
        .select(
            F.lit("fanout_hist").alias("kind"),
            F.col("fanout").alias("k"),
            "v",
        )
    )
    top = (
        fan.orderBy(F.desc("fanout"), F.asc("l_orderkey"))
        .limit(_SKEW_TOPK)
        .select(
            F.lit("top_key").alias("kind"),
            F.col("l_orderkey").alias("k"),
            F.col("fanout").alias("v"),
        )
    )
    return hist.unionByName(top)


# ------------------------------------------------ robust statistics


def _exact_median(df: DataFrame, keys: list[str], col: str, tiebreak: str, out: str):
    """Exact per-group median via rank-the-middle: row_number over a
    total order, integer middle positions lo=(n+1) div 2 /
    hi=(n div 2)+1, avg of the ≤2 middle rows (commutative double
    sum — no engine quantile interpolation anywhere)."""
    w = Window.partitionBy(*keys).orderBy(F.asc(col), F.asc(tiebreak))
    ranked = df.withColumn("_rn", F.row_number().over(w))
    cnts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_cnt"))
    lo = F.expr("(_cnt + 1) div 2")
    hi = F.expr("(_cnt div 2) + 1")
    return (
        ranked.join(cnts, keys)
        .filter((F.col("_rn") == lo) | (F.col("_rn") == hi))
        .groupBy(*keys)
        .agg(F.avg(col).alias(out))
    )


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("week", F.col("ts")).alias("week"),
        "value",
        "event_id",
    )
    keys = ["event_type", "week"]
    med = _exact_median(ev, keys, "value", "event_id", "med")
    # dev feeds the second median's rank+count branches AND the final
    # flag join — without materialization the ev⋈med subtree (itself
    # containing the first median's window) re-ran per consumer: the
    # r13 before-plan scanned events 18×. One eager checkpoint; the
    # downstream key-partitioned windows re-spread parallelism.
    dev = (
        ev.join(med, keys)
        .withColumn("_dev", F.abs(F.col("value") - F.col("med")))
        .localCheckpoint(eager=True)
    )
    mad = _exact_median(dev, keys, "_dev", "event_id", "mad")
    flagged = dev.join(mad, keys)
    # outlier_rate = round(n_outliers/n_rows, 6) via exact-integer
    # HALF_UP (operators/rounding): a power-of-two group size is the
    # engine-tie class. Bounds: n_outliers·1e6 ≤ ~6e11 at sf0.1.
    return (
        flagged.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.max("med"), 6).alias("median_value"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.col("_dev") > 3.0 * F.col("mad"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("n_outliers"),
        )
        .select(
            *keys,
            "n_rows",
            "median_value",
            "mad",
            "n_outliers",
            exact_avg6_expr("n_outliers * 1000000", "n_rows").alias("outlier_rate"),
        )
    )


_MAD_SQL = """
    WITH ev AS (
        SELECT event_type, date_trunc('week', ts) AS week, value, event_id
        FROM events
    ), ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY event_type, week
                                  ORDER BY value ASC, event_id ASC) AS rn,
               count(*) OVER (PARTITION BY event_type, week) AS cnt
        FROM ev
    ), med AS (
        SELECT event_type, week, avg(value) AS med
        FROM ranked
        WHERE rn = (cnt + 1) // 2 OR rn = (cnt // 2) + 1
        GROUP BY 1, 2
    ), dev AS (
        SELECT ev.event_type, ev.week, ev.value, ev.event_id, med.med,
               abs(ev.value - med.med) AS dv
        FROM ev JOIN med USING (event_type, week)
    ), dranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY event_type, week
                                  ORDER BY dv ASC, event_id ASC) AS rn,
               count(*) OVER (PARTITION BY event_type, week) AS cnt
        FROM dev
    ), mad AS (
        SELECT event_type, week, avg(dv) AS mad
        FROM dranked
        WHERE rn = (cnt + 1) // 2 OR rn = (cnt // 2) + 1
        GROUP BY 1, 2
    )
    SELECT event_type, week,
           count(*) AS n_rows,
           round(max(med), 6) AS median_value,
           round(max(mad), 6) AS mad,
           CAST(sum(CASE WHEN dv > 3.0 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           {rate} AS outlier_rate
    FROM dev JOIN mad USING (event_type, week)
    GROUP BY 1, 2
""".format(
    rate=exact_avg6_sql(
        "CAST(sum(CASE WHEN dv > 3.0 * mad.mad THEN 1 ELSE 0 END)"
        " AS BIGINT) * 1000000",
        "count(*)",
    )
)


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.round("c_acctbal", 2).alias("bal")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.asc("bal"), F.asc("c_custkey"))
    ranked = cust.withColumn("_rn", F.row_number().over(w))
    cnt = cust.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("_n"))
    # exact-position percentiles: pos_q = ceil(q·n) in integer
    # arithmetic — deterministic on both engines, no interpolation
    lo_pos = F.expr("(1 * _n + 99) div 100")
    hi_pos = F.expr("(99 * _n + 99) div 100")
    bounds = (
        ranked.join(cnt, "c_mktsegment")
        .filter((F.col("_rn") == lo_pos) | (F.col("_rn") == hi_pos))
        .groupBy("c_mktsegment")
        .agg(F.min("bal").alias("p01"), F.max("bal").alias("p99"))
    )
    capped = cust.join(F.broadcast(bounds), "c_mktsegment").select(
        "c_mktsegment",
        F.least(F.greatest(F.col("bal"), F.col("p01")), F.col("p99"))
        .cast("decimal(18,6)")
        .alias("w_d"),
        "p01",
        "p99",
    )
    return (
        capped.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("w_d").alias("_sum_d"),
            F.round(F.min("p01"), 2).alias("p01"),
            F.round(F.min("p99"), 2).alias("p99"),
        )
        .withColumn("_units", (F.col("_sum_d") * 1000000).cast("long"))
        .select(
            "c_mktsegment",
            "n_customers",
            "p01",
            "p99",
            exact_avg6_expr("_units", "n_customers").alias("winsorized_mean"),
        )
    )


_WINSOR_SQL = """
    WITH cust AS (
        SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS bal
        FROM customer
    ), ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY bal ASC, c_custkey ASC) AS rn,
               count(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM cust
    ), bounds AS (
        SELECT c_mktsegment, min(bal) AS p01, max(bal) AS p99
        FROM ranked
        WHERE rn = (1 * n + 99) // 100 OR rn = (99 * n + 99) // 100
        GROUP BY 1
    ), capped AS (
        SELECT cust.c_mktsegment,
               CAST(least(greatest(bal, p01), p99) AS DECIMAL(18,6)) AS w_d,
               p01, p99
        FROM cust JOIN bounds USING (c_mktsegment)
    )
    SELECT c_mktsegment,
           count(*) AS n_customers,
           round(min(p01), 2) AS p01,
           round(min(p99), 2) AS p99,
           {mean} AS winsorized_mean
    FROM capped GROUP BY 1
""".format(
    mean=exact_avg6_sql("CAST(sum(w_d) * 1000000 AS BIGINT)", "count(*)")
)


# ------------------------------------------------ distribution, drift

_KS_SEG_A = "BUILDING"
_KS_SEG_B = "MACHINERY"

_PRICE_CENTS = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"


def _seg_cents(spark: SparkSession, sf_dir: str, seg: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == seg
    )
    return orders.join(
        F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"))),
        "o_custkey",
    ).select(F.expr(_PRICE_CENTS).alias("cents"))


def q_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _seg_cents(spark, sf_dir, _KS_SEG_A).withColumn("is_a", F.lit(1))
    b = _seg_cents(spark, sf_dir, _KS_SEG_B).withColumn("is_a", F.lit(0))
    # pts (distinct cents values, small) feeds the cumulative window
    # AND supplies both sample sizes: n = Σna and m = Σnb EXACTLY, so
    # the two extra customer scans the separate a.count()/b.count()
    # actions paid (r13 before-plan: 8 scans) collapse into one agg
    # over the checkpointed rollup.
    pts = (
        a.unionByName(b)
        .groupBy("cents")
        .agg(
            F.sum("is_a").alias("na"),
            F.sum(1 - F.col("is_a")).alias("nb"),
        )
        .localCheckpoint(eager=True)
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = pts.select(
        F.sum("na").over(w).alias("ca"), F.sum("nb").over(w).alias("cb")
    )
    sizes = pts.agg(F.sum("na").alias("n"), F.sum("nb").alias("m")).collect()[0]
    n, m = int(sizes["n"] or 0), int(sizes["m"] or 0)
    out = cum.agg(
        F.max(F.abs(F.col("ca") * m - F.col("cb") * n)).alias("d_num")
    )
    return out.select(
        F.lit(n).cast("bigint").alias("n"),
        F.lit(m).cast("bigint").alias("m"),
        F.col("d_num").cast("bigint").alias("d_num"),
        exact_avg6_expr("d_num * 1000000", str(n * m)).alias("ks"),
    )


def q_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    rev = (
        orders.join(F.broadcast(cust), "o_custkey")
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum(F.expr(_PRICE_CENTS)).alias("x"))
    )
    wr = Window.partitionBy("c_mktsegment").orderBy("x", "o_custkey")
    ranked = rev.withColumn("i", F.row_number().over(wr).cast("bigint"))
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("i") * F.col("x")).alias("a"),
    )
    g = (2 * F.col("a") - (F.col("n") + 1) * F.col("s")) / (
        F.col("n") * F.col("s")
    )
    return agg.select(
        "c_mktsegment",
        "n",
        F.col("s").alias("total_cents"),
        (F.round(g.cast("double"), 6) + 0.0).alias("gini"),
    )


_BENFORD_EXP = {d: round(math.log10(1 + 1.0 / d), 6) for d in range(1, 10)}


def q_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(F.expr(_PRICE_CENTS).cast("string"), 1, 1).cast("int")
    counts = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    total = orders.count()
    exp_share = F.element_at(
        F.array(*[F.lit(_BENFORD_EXP[d]) for d in range(1, 10)]), F.col("digit")
    )
    return counts.select(
        "digit",
        "n_obs",
        exact_avg6_expr("n_obs * 1000000", str(total)).alias("obs_share"),
        exp_share.alias("exp_share"),
        (
            F.round(
                F.abs(
                    exact_avg6_expr("n_obs * 1000000", str(total)) - exp_share
                ),
                6,
            )
            + 0.0
        ).alias("abs_dev"),
    )


def q_categorical_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("observed"))
    row_t = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("r"))
    col_t = docs.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    n = docs.count()
    e = (F.col("r") * F.col("c")).cast("double") / float(n)
    chi = (F.col("observed") - e) * (F.col("observed") - e) / e
    return (
        obs.join(F.broadcast(row_t), "lang")
        .join(F.broadcast(col_t), "source")
        .select(
            "lang",
            "source",
            "observed",
            F.round(e, 6).alias("expected"),
            (F.round(chi, 6) + 0.0).alias("chi2_cell"),
        )
    )


def _benford_case(col: str) -> str:
    return (
        "CASE " + col + " "
        + " ".join(f"WHEN {d} THEN {_BENFORD_EXP[d]}" for d in range(1, 10))
        + " END"
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


# ------------------------------------ hypothesis tests on balances

_BAL_CENTS = "CAST(round(c_acctbal * 100, 0) AS BIGINT)"


def _seg_balance_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(seg, cents): every customer's balance as exact integer cents,
    the input frame of all four balance tests."""
    return load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.expr(_BAL_CENTS).alias("cents"),
    )


# exact-integer per-segment stats, shared shape for both engines:
#   cents    BIGINT        (|acctbal| < 1e10 dollars by width)
#   s        BIGINT        Σcents
#   q        DECIMAL(25,0) Σcents² via (12,0)·(12,0) products
#   var_num  DECIMAL(38,0) n·q − s²  via (12,0)·(25,0) − (19,0)²

_T_STAT_D = (
    "CAST(var_num AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))"
)


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = (
        _seg_balance_cents(spark, sf_dir)
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s"),
            F.sum(
                F.expr(
                    "CAST(cents AS DECIMAL(12,0)) * CAST(cents AS DECIMAL(12,0))"
                )
            ).alias("q"),
        )
        .withColumn(
            "var_num",
            F.expr(
                "CAST(n AS DECIMAL(12,0)) * CAST(q AS DECIMAL(25,0))"
                " - CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))"
            ),
        )
        .withColumn("m", F.expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("se2", F.expr(_T_STAT_D))
        .select("seg", "n", "m", "se2")
    )
    a = stats.select(
        F.col("seg").alias("seg_a"),
        F.col("n").alias("n_a"),
        F.col("m").alias("m_a"),
        F.col("se2").alias("se2_a"),
    )
    b = stats.select(
        F.col("seg").alias("seg_b"),
        F.col("n").alias("n_b"),
        F.col("m").alias("m_b"),
        F.col("se2").alias("se2_b"),
    )
    return (
        a.join(F.broadcast(b), F.col("seg_a") < F.col("seg_b"))
        .select(
            "seg_a",
            "seg_b",
            "n_a",
            "n_b",
            (
                F.round(
                    F.try_divide(
                        F.col("m_a") - F.col("m_b"),
                        F.nullif(F.sqrt(F.col("se2_a") + F.col("se2_b")), F.lit(0.0)),
                    ),
                    6,
                )
                + 0.0
            ).alias("t_stat"),
            (
                F.round(
                    F.try_divide(
                        (F.col("se2_a") + F.col("se2_b"))
                        * (F.col("se2_a") + F.col("se2_b")),
                        F.nullif(
                            F.col("se2_a") * F.col("se2_a")
                            / F.expr("CAST(n_a - 1 AS DOUBLE)")
                            + F.col("se2_b") * F.col("se2_b")
                            / F.expr("CAST(n_b - 1 AS DOUBLE)"),
                            F.lit(0.0),
                        ),
                    ),
                    6,
                )
                + 0.0
            ).alias("df_welch"),
        )
    )


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _seg_balance_cents(spark, sf_dir)
    vc = cust.groupBy("cents").agg(F.count(F.lit(1)).alias("t"))
    wv = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    vc2 = vc.withColumn(
        "r2", 2 * F.coalesce(F.sum("t").over(wv), F.lit(0)) + F.col("t") + 1
    )
    sc = cust.groupBy("seg", "cents").agg(F.count(F.lit(1)).alias("m"))
    g = (
        sc.join(vc2, "cents")
        .groupBy("seg")
        .agg(
            F.sum("m").alias("n"),
            F.sum(F.col("m") * F.col("r2")).alias("r2sum"),
        )
        .withColumn(
            "term",
            F.expr(
                "CAST(CAST(r2sum AS DECIMAL(19,0)) * CAST(r2sum AS DECIMAL(19,0))"
                " AS DOUBLE) / (4.0 * CAST(n AS DOUBLE))"
            ),
        )
    )
    wseg = Window.orderBy("seg").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("seg").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    last = (
        g.withColumn("s_cum", F.sum("term").over(wseg))
        .withColumn("rn", F.row_number().over(Window.orderBy("seg")))
        .withColumn("k_groups", F.count(F.lit(1)).over(wall))
        .withColumn("n_total", F.sum("n").over(wall))
        .filter(F.col("rn") == F.col("k_groups"))
        .select("k_groups", "n_total", "s_cum")
    )
    ties = vc.agg(
        F.sum(
            F.expr(
                "CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0))"
                " * CAST(t AS DECIMAL(12,0)) - CAST(t AS DECIMAL(12,0))"
            )
        ).alias("tie_sum")
    )
    h = (
        "12.0 / (CAST(n_total AS DOUBLE) * CAST(n_total + 1 AS DOUBLE)) * s_cum"
        " - 3.0 * CAST(n_total + 1 AS DOUBLE)"
    )
    c = (
        "1.0 - CAST(tie_sum AS DOUBLE)"
        " / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)"
        " * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE))"
    )
    return last.crossJoin(F.broadcast(ties)).select(
        F.col("k_groups").cast("int").alias("k_groups"),
        "n_total",
        (F.round(F.expr(h), 6) + 0.0).alias("h_stat"),
        (
            F.round(F.expr(f"try_divide({h}, nullif({c}, 0.0))"), 6) + 0.0
        ).alias("h_corrected"),
    )


def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _seg_balance_cents(spark, sf_dir)
    segs = cust.select("seg").distinct()
    pairs = (
        segs.select(F.col("seg").alias("seg_a"))
        .join(
            F.broadcast(segs.select(F.col("seg").alias("seg_b"))),
            F.col("seg_a") < F.col("seg_b"),
        )
    )
    sc = cust.groupBy("seg", "cents").agg(F.count(F.lit(1)).alias("m"))
    pv = (
        sc.join(
            F.broadcast(pairs),
            (F.col("seg") == F.col("seg_a")) | (F.col("seg") == F.col("seg_b")),
        )
        .groupBy("seg_a", "seg_b", "cents")
        .agg(
            F.sum(F.when(F.col("seg") == F.col("seg_a"), F.col("m")).otherwise(0)).alias("ma"),
            F.sum(F.when(F.col("seg") == F.col("seg_b"), F.col("m")).otherwise(0)).alias("mb"),
        )
    )
    wv = (
        Window.partitionBy("seg_a", "seg_b")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pvc = pv.withColumn(
        "cuma", F.coalesce(F.sum("ma").over(wv), F.lit(0))
    ).withColumn("cumb", F.coalesce(F.sum("mb").over(wv), F.lit(0)))
    g = pvc.groupBy("seg_a", "seg_b").agg(
        F.sum("ma").alias("n_a"),
        F.sum("mb").alias("n_b"),
        F.sum(
            F.col("ma")
            * (2 * (F.col("cuma") + F.col("cumb")) + F.col("ma") + F.col("mb") + 1)
        ).alias("r2a"),
        F.sum(
            F.expr(
                "CAST(ma + mb AS DECIMAL(12,0)) * CAST(ma + mb AS DECIMAL(12,0))"
                " * CAST(ma + mb AS DECIMAL(12,0)) - CAST(ma + mb AS DECIMAL(12,0))"
            )
        ).alias("tie_sum"),
    )
    u2 = "r2a - n_a * (n_a + 1)"
    # greatest(0,·): at full tie degeneracy the (n+1) − tie/(n(n−1))
    # factor is analytically 0 but its double dust can be negative,
    # and DuckDB hard-errors on sqrt(negative) (the changepoint dust
    # rule) — the guard collapses the case to NULL via the nullif
    sigma = (
        "sqrt(greatest(CAST(0.0 AS DOUBLE),"
        " CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0"
        " * (CAST(n_a + n_b + 1 AS DOUBLE)"
        " - CAST(tie_sum AS DOUBLE)"
        " / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b - 1 AS DOUBLE)))))"
    )
    return g.select(
        "seg_a",
        "seg_b",
        "n_a",
        "n_b",
        F.expr(f"CAST({u2} AS DOUBLE) / 2.0").alias("u_stat"),
        (
            F.round(
                F.expr(
                    f"try_divide(CAST({u2} - n_a * n_b AS DOUBLE) / 2.0,"
                    f" nullif({sigma}, 0.0))"
                ),
                6,
            )
            + 0.0
        ).alias("z_stat"),
    )


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
    cust = _seg_balance_cents(spark, sf_dir)
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


# ------------------------------------------ event-stream information


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNotNull()
    )
    cnt = tr.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    wtot = Window.partitionBy("prev_type")
    return (
        cnt.withColumn("n_from", F.sum("n_trans").over(wtot))
        .select(
            "prev_type",
            "next_type",
            "n_trans",
            "n_from",
            exact_avg6_expr("n_trans * 1000000", "n_from").alias("p_trans"),
        )
    )


# shared double-expression strings (identical text both engines)
_MI = "(CAST(wsum AS DOUBLE) / CAST(n_events AS DOUBLE))"
_HX = "(ln(CAST(n_events AS DOUBLE)) - CAST(hx_sum AS DOUBLE) / n_events)"
_HY = "(ln(CAST(n_events AS DOUBLE)) - CAST(hy_sum AS DOUBLE) / n_events)"
_NMI = f"({_MI} / nullif(least({_HX}, {_HY}), 0.0))"


def q_event_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("x"),
        F.expr("CAST((unix_micros(ts) div 3600000000) % 24 AS INT)").alias("y"),
    )
    # cells (≤ |event_types|·24 rows) feeds the MI sum and both
    # marginal-entropy rollups — one eager materialization instead of
    # three events scans (r13 before-plan, 6 scans); metadata-sized
    cells = ev.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c")).localCheckpoint(
        eager=True
    )
    wx = Window.partitionBy("x")
    wy = Window.partitionBy("y")
    wall = Window.partitionBy()
    scored = (
        cells.withColumn("cx", F.sum("c").over(wx))
        .withColumn("cy", F.sum("c").over(wy))
        .withColumn("n", F.sum("c").over(wall))
        .withColumn(
            "w",
            F.expr(
                "CAST(round(ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)"
                " / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 6)"
                " AS DECIMAL(12,6))"
            ),
        )
    )
    mi = scored.groupBy().agg(
        F.max("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_cells"),
        # Spark keeps narrow operands ((12,0)×(12,6) → (25,6)) so the
        # precision-38 cap never threatens the scale; the oracle uses
        # ≥19-digit operands for DuckDB's int128 tier — widths differ,
        # VALUES exact (the acf_returns width note)
        F.sum(F.expr("CAST(c AS DECIMAL(12,0)) * CAST(w AS DECIMAL(12,6))")).alias(
            "wsum"
        ),
    )
    hx = (
        cells.groupBy("x")
        .agg(F.sum("c").alias("cx"))
        .agg(
            F.sum(
                F.expr(
                    "CAST(cx AS DECIMAL(12,0))"
                    " * CAST(round(ln(CAST(cx AS DOUBLE)), 6) AS DECIMAL(12,6))"
                )
            ).alias("hx_sum")
        )
    )
    hy = (
        cells.groupBy("y")
        .agg(F.sum("c").alias("cy"))
        .agg(
            F.sum(
                F.expr(
                    "CAST(cy AS DECIMAL(12,0))"
                    " * CAST(round(ln(CAST(cy AS DOUBLE)), 6) AS DECIMAL(12,6))"
                )
            ).alias("hy_sum")
        )
    )
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            "n_events",
            "n_cells",
            (F.round(F.expr(_MI), 6) + 0.0).alias("mi_nats"),
            (F.round(F.expr(_HX), 6) + 0.0).alias("h_type"),
            (F.round(F.expr(_HY), 6) + 0.0).alias("h_hour"),
            (F.round(F.expr(_NMI), 6) + 0.0).alias("nmi"),
        )
    )


QUERIES = {
    "data_quality_audit": q_data_quality_audit,
    "expectation_gate": q_expectation_gate,
    "skew_report": q_skew_report,
    "mad_outliers": q_mad_outliers,
    "winsorized_stats": q_winsorized_stats,
    "ks_statistic": q_ks_statistic,
    "gini_coefficient": q_gini_coefficient,
    "benford_deviation": q_benford_deviation,
    "categorical_association": q_categorical_association,
    "welch_ttest": q_welch_ttest,
    "kruskal_wallis": q_kruskal_wallis,
    "mann_whitney_u": q_mann_whitney_u,
    "event_transition_matrix": q_event_transition_matrix,
    "one_way_anova": q_one_way_anova,
    "herfindahl_index": q_herfindahl_index,
    "event_mutual_info": q_event_mutual_info,
}

_MANN_WHITNEY_SQL = f"""
    WITH cs AS (
        SELECT c_mktsegment AS seg,
               {_BAL_CENTS} AS cents
        FROM customer
    ),
    sc AS (
        SELECT seg, cents, CAST(count(*) AS BIGINT) AS m
        FROM cs GROUP BY seg, cents
    ),
    pr AS (
        SELECT a.seg AS seg_a, b.seg AS seg_b
        FROM (SELECT DISTINCT seg FROM cs) a
        JOIN (SELECT DISTINCT seg FROM cs) b ON a.seg < b.seg
    ),
    pv AS (
        SELECT seg_a, seg_b, cents,
               CAST(sum(CASE WHEN seg = seg_a THEN m ELSE 0 END) AS BIGINT) AS ma,
               CAST(sum(CASE WHEN seg = seg_b THEN m ELSE 0 END) AS BIGINT) AS mb
        FROM sc JOIN pr ON seg = seg_a OR seg = seg_b
        GROUP BY seg_a, seg_b, cents
    ),
    pc AS (
        SELECT seg_a, seg_b, ma, mb,
               CAST(coalesce(sum(ma) OVER wv, 0) AS BIGINT) AS cuma,
               CAST(coalesce(sum(mb) OVER wv, 0) AS BIGINT) AS cumb
        FROM pv
        WINDOW wv AS (PARTITION BY seg_a, seg_b ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    g AS (
        SELECT seg_a, seg_b,
               CAST(sum(ma) AS BIGINT) AS n_a,
               CAST(sum(mb) AS BIGINT) AS n_b,
               CAST(sum(ma * (2 * (cuma + cumb) + ma + mb + 1)) AS BIGINT) AS r2a,
               sum(CAST(ma + mb AS DECIMAL(12,0)) * CAST(ma + mb AS DECIMAL(12,0))
                   * CAST(ma + mb AS DECIMAL(12,0)) - CAST(ma + mb AS DECIMAL(12,0)))
                   AS tie_sum
        FROM pc GROUP BY seg_a, seg_b
    )
    SELECT seg_a, seg_b, n_a, n_b,
           CAST(r2a - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_stat,
           round(
               (CAST(r2a - n_a * (n_a + 1) - n_a * n_b AS DOUBLE) / 2.0)
               / nullif(sqrt(greatest(CAST(0.0 AS DOUBLE),
                   CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                   * (CAST(n_a + n_b + 1 AS DOUBLE)
                      - CAST(tie_sum AS DOUBLE)
                      / (CAST(n_a + n_b AS DOUBLE)
                         * CAST(n_a + n_b - 1 AS DOUBLE))))), 0.0),
               6) + 0.0 AS z_stat
    FROM g
"""

_TRANSITION_SQL = f"""
    WITH tr AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type,
               event_type AS next_type
        FROM events
    ),
    cnt AS (
        SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n_trans
        FROM tr WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    ),
    tot AS (
        SELECT prev_type, next_type, n_trans,
               CAST(sum(n_trans) OVER (PARTITION BY prev_type) AS BIGINT) AS n_from
        FROM cnt
    )
    SELECT prev_type, next_type, n_trans, n_from,
           {exact_avg6_sql("n_trans * 1000000", "n_from")} AS p_trans
    FROM tot
"""

_KRUSKAL_SQL = f"""
    WITH cs AS (
        SELECT c_mktsegment AS seg,
               {_BAL_CENTS} AS cents
        FROM customer
    ),
    vc AS (
        SELECT cents, CAST(count(*) AS BIGINT) AS t
        FROM cs GROUP BY cents
    ),
    vr AS (
        SELECT cents, t,
               2 * coalesce(sum(t) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + t + 1 AS r2
        FROM vc
    ),
    sc AS (
        SELECT seg, cents, CAST(count(*) AS BIGINT) AS m
        FROM cs GROUP BY seg, cents
    ),
    g AS (
        SELECT seg, sum(m) AS n, sum(m * r2) AS r2sum
        FROM sc JOIN vr USING (cents)
        GROUP BY seg
    ),
    gt AS (
        SELECT seg, n,
               CAST(CAST(r2sum AS DECIMAL(19,0)) * CAST(r2sum AS DECIMAL(19,0))
                    AS DOUBLE) / (4.0 * CAST(n AS DOUBLE)) AS term
        FROM g
    ),
    lastrow AS (
        SELECT CAST(count(*) OVER () AS INT) AS k_groups,
               CAST(sum(n) OVER () AS BIGINT) AS n_total,
               sum(term) OVER (ORDER BY seg
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_cum,
               row_number() OVER (ORDER BY seg) AS rn,
               count(*) OVER () AS kk
        FROM gt
    ),
    ties AS (
        SELECT sum(CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0))
                   * CAST(t AS DECIMAL(12,0)) - CAST(t AS DECIMAL(12,0)))
               AS tie_sum
        FROM vc
    )
    SELECT k_groups, n_total,
           round(12.0 / (CAST(n_total AS DOUBLE) * CAST(n_total + 1 AS DOUBLE))
                 * s_cum - 3.0 * CAST(n_total + 1 AS DOUBLE), 6) + 0.0 AS h_stat,
           round((12.0 / (CAST(n_total AS DOUBLE) * CAST(n_total + 1 AS DOUBLE))
                 * s_cum - 3.0 * CAST(n_total + 1 AS DOUBLE))
                 / nullif(1.0 - CAST(tie_sum AS DOUBLE)
                          / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                             * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)),
                          0.0), 6) + 0.0 AS h_corrected
    FROM lastrow, ties
    WHERE rn = kk
"""

ORACLE = {
    "data_quality_audit": """
        WITH n AS (SELECT count(*) AS n_rows FROM lineitem)
        SELECT 'l_quantity' AS col_name, n_rows,
               (SELECT count(*) FROM lineitem WHERE l_quantity IS NULL) AS n_null,
               (SELECT count(DISTINCT l_quantity) FROM lineitem) AS n_distinct,
               (SELECT CAST(min(l_quantity) AS DOUBLE) FROM lineitem) AS min_num,
               (SELECT CAST(max(l_quantity) AS DOUBLE) FROM lineitem) AS max_num,
               CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        FROM n
        UNION ALL
        SELECT 'l_extendedprice', n_rows,
               (SELECT count(*) FROM lineitem WHERE l_extendedprice IS NULL),
               (SELECT count(DISTINCT l_extendedprice) FROM lineitem),
               (SELECT CAST(min(l_extendedprice) AS DOUBLE) FROM lineitem),
               (SELECT CAST(max(l_extendedprice) AS DOUBLE) FROM lineitem),
               NULL, NULL
        FROM n
        UNION ALL
        SELECT 'l_discount', n_rows,
               (SELECT count(*) FROM lineitem WHERE l_discount IS NULL),
               (SELECT count(DISTINCT l_discount) FROM lineitem),
               (SELECT CAST(min(l_discount) AS DOUBLE) FROM lineitem),
               (SELECT CAST(max(l_discount) AS DOUBLE) FROM lineitem),
               NULL, NULL
        FROM n
        UNION ALL
        SELECT 'l_returnflag', n_rows,
               (SELECT count(*) FROM lineitem WHERE l_returnflag IS NULL),
               (SELECT count(DISTINCT l_returnflag) FROM lineitem),
               NULL, NULL,
               (SELECT min(l_returnflag) FROM lineitem),
               (SELECT max(l_returnflag) FROM lineitem)
        FROM n
        UNION ALL
        SELECT 'l_linestatus', n_rows,
               (SELECT count(*) FROM lineitem WHERE l_linestatus IS NULL),
               (SELECT count(DISTINCT l_linestatus) FROM lineitem),
               NULL, NULL,
               (SELECT min(l_linestatus) FROM lineitem),
               (SELECT max(l_linestatus) FROM lineitem)
        FROM n
        UNION ALL
        SELECT 'l_shipdate', n_rows,
               (SELECT count(*) FROM lineitem WHERE l_shipdate IS NULL),
               (SELECT count(DISTINCT l_shipdate) FROM lineitem),
               (SELECT CAST(epoch_us(min(l_shipdate)) AS DOUBLE) FROM lineitem),
               (SELECT CAST(epoch_us(max(l_shipdate)) AS DOUBLE) FROM lineitem),
               NULL, NULL
        FROM n
    """,
    "expectation_gate": """
        WITH n AS (SELECT count(*) AS n_rows FROM lineitem)
        SELECT 'quantity_in_1_50' AS rule,
               (SELECT count(*) FROM lineitem
                WHERE NOT (l_quantity BETWEEN 1 AND 50)
                   OR l_quantity IS NULL) AS n_violations,
               n_rows
        FROM n
        UNION ALL
        SELECT 'price_positive',
               (SELECT count(*) FROM lineitem
                WHERE l_extendedprice <= 0 OR l_extendedprice IS NULL),
               n_rows
        FROM n
        UNION ALL
        SELECT 'discount_in_0_1',
               (SELECT count(*) FROM lineitem
                WHERE NOT (l_discount BETWEEN 0 AND 1)
                   OR l_discount IS NULL),
               n_rows
        FROM n
        UNION ALL
        SELECT 'shipdate_not_null',
               (SELECT count(*) FROM lineitem WHERE l_shipdate IS NULL),
               n_rows
        FROM n
        UNION ALL
        SELECT 'orderkey_in_orders',
               (SELECT count(*) FROM lineitem
                WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
               n_rows
        FROM n
    """,
    "skew_report": f"""
        WITH fan AS (
            SELECT l_orderkey, count(*) AS fanout
            FROM lineitem GROUP BY 1
        ),
        top AS (
            SELECT l_orderkey, fanout FROM fan
            ORDER BY fanout DESC, l_orderkey
            LIMIT {_SKEW_TOPK}
        )
        SELECT 'fanout_hist' AS kind, fanout AS k, count(*) AS v
        FROM fan GROUP BY 2
        UNION ALL
        SELECT 'top_key', l_orderkey, fanout FROM top
    """,
    "mad_outliers": _MAD_SQL,
    "winsorized_stats": _WINSOR_SQL,
    "ks_statistic": f"""
        WITH a AS (
            SELECT {_PRICE_CENTS} AS cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = '{_KS_SEG_A}'
        ), b AS (
            SELECT {_PRICE_CENTS} AS cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = '{_KS_SEG_B}'
        ), nm AS (
            SELECT (SELECT count(*) FROM a) AS n, (SELECT count(*) FROM b) AS m
        ), pts AS (
            SELECT cents, sum(is_a) AS na, sum(1 - is_a) AS nb
            FROM (SELECT cents, 1 AS is_a FROM a
                  UNION ALL SELECT cents, 0 FROM b)
            GROUP BY cents
        ), cum AS (
            SELECT sum(na) OVER w AS ca, sum(nb) OVER w AS cb
            FROM pts WINDOW w AS (ORDER BY cents
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)
        ), d AS (
            SELECT max(abs(ca * m - cb * n)) AS d_num FROM cum, nm
        )
        SELECT CAST(n AS BIGINT) AS n, CAST(m AS BIGINT) AS m,
               CAST(d_num AS BIGINT) AS d_num,
               {exact_avg6_sql("d_num * 1000000", "n * m")} AS ks
        FROM d, nm
    """,
    "gini_coefficient": f"""
        WITH rev AS (
            SELECT c_mktsegment, o_custkey,
                   CAST(sum({_PRICE_CENTS}) AS BIGINT) AS x
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2
        ), ranked AS (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY c_mktsegment ORDER BY x, o_custkey
            ) AS BIGINT) AS i
            FROM rev
        )
        SELECT c_mktsegment,
               count(*) AS n,
               CAST(sum(x) AS BIGINT) AS total_cents,
               round(CAST(2 * sum(i * x) - (count(*) + 1) * sum(x) AS DOUBLE)
                     / CAST(count(*) * sum(x) AS DOUBLE), 6) + 0.0 AS gini
        FROM ranked
        GROUP BY c_mktsegment
    """,
    "benford_deviation": f"""
        WITH counts AS (
            SELECT CAST(substr(CAST({_PRICE_CENTS} AS VARCHAR), 1, 1) AS INT)
                       AS digit,
                   count(*) AS n_obs
            FROM orders GROUP BY 1
        ), total AS (SELECT count(*) AS t FROM orders)
        SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
               {exact_avg6_sql("n_obs * 1000000", "t")} AS obs_share,
               {_benford_case("digit")} AS exp_share,
               round(abs({exact_avg6_sql("n_obs * 1000000", "t")}
                         - {_benford_case("digit")}), 6) + 0.0 AS abs_dev
        FROM counts, total
    """,
    "categorical_association": """
        WITH obs AS (
            SELECT lang, source, count(*) AS observed
            FROM documents GROUP BY 1, 2
        ), rt AS (SELECT lang, count(*) AS r FROM documents GROUP BY 1),
        ct AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
        n AS (SELECT count(*) AS t FROM documents)
        SELECT o.lang, o.source, CAST(o.observed AS BIGINT) AS observed,
               round(CAST(rt.r * ct.c AS DOUBLE) / t, 6) AS expected,
               round((o.observed - CAST(rt.r * ct.c AS DOUBLE) / t)
                     * (o.observed - CAST(rt.r * ct.c AS DOUBLE) / t)
                     / (CAST(rt.r * ct.c AS DOUBLE) / t), 6) + 0.0
                   AS chi2_cell
        FROM obs o JOIN rt ON rt.lang = o.lang
        JOIN ct ON ct.source = o.source CROSS JOIN n
    """,
    "welch_ttest": f"""
        WITH cs AS (
            SELECT c_mktsegment AS seg,
                   {_BAL_CENTS} AS cents
            FROM customer
        ),
        st AS (
            SELECT seg,
                   CAST(count(*) AS BIGINT) AS n,
                   sum(cents) AS s,
                   sum(CAST(cents AS DECIMAL(12,0))
                       * CAST(cents AS DECIMAL(12,0))) AS q
            FROM cs GROUP BY seg
        ),
        ms AS (
            SELECT seg, n,
                   CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
                   CAST(CAST(n AS DECIMAL(12,0)) * CAST(q AS DECIMAL(25,0))
                        - CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))
                        AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      * CAST(n - 1 AS DOUBLE)) AS se2
            FROM st
        )
        SELECT a.seg AS seg_a, b.seg AS seg_b,
               a.n AS n_a, b.n AS n_b,
               round((a.m - b.m)
                     / nullif(sqrt(a.se2 + b.se2), 0), 6) + 0.0 AS t_stat,
               round(((a.se2 + b.se2) * (a.se2 + b.se2))
                     / nullif(a.se2 * a.se2 / CAST(a.n - 1 AS DOUBLE)
                              + b.se2 * b.se2 / CAST(b.n - 1 AS DOUBLE), 0),
                     6) + 0.0 AS df_welch
        FROM ms a JOIN ms b ON a.seg < b.seg
    """,
    "kruskal_wallis": _KRUSKAL_SQL,
    "mann_whitney_u": _MANN_WHITNEY_SQL,
    "event_transition_matrix": _TRANSITION_SQL,
    "one_way_anova": f"""
        WITH c AS (
            SELECT c_mktsegment AS seg,
                   {_BAL_CENTS} AS cents
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
    "event_mutual_info": f"""
        WITH ev AS (
            SELECT event_type AS x,
                   CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS y
            FROM events
        ),
        cells AS (
            SELECT x, y, CAST(count(*) AS BIGINT) AS c
            FROM ev GROUP BY 1, 2
        ),
        scored AS (
            SELECT c,
                   sum(c) OVER (PARTITION BY x) AS cx,
                   sum(c) OVER (PARTITION BY y) AS cy,
                   sum(c) OVER () AS n
            FROM cells
        ),
        mi AS (
            SELECT CAST(max(n) AS BIGINT) AS n_events,
                   CAST(count(*) AS BIGINT) AS n_cells,
                   sum(CAST(c AS DECIMAL(19,0)) *
                       CAST(round(ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
                            / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 6)
                            AS DECIMAL(19,6))) AS wsum
            FROM scored
        ),
        hx AS (
            SELECT sum(CAST(cx AS DECIMAL(19,0)) *
                       CAST(round(ln(CAST(cx AS DOUBLE)), 6) AS DECIMAL(19,6)))
                       AS hx_sum
            FROM (SELECT CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY x)
        ),
        hy AS (
            SELECT sum(CAST(cy AS DECIMAL(19,0)) *
                       CAST(round(ln(CAST(cy AS DOUBLE)), 6) AS DECIMAL(19,6)))
                       AS hy_sum
            FROM (SELECT CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY y)
        )
        SELECT n_events, n_cells,
               round({_MI}, 6) + 0.0 AS mi_nats,
               round({_HX}, 6) + 0.0 AS h_type,
               round({_HY}, 6) + 0.0 AS h_hour,
               round({_NMI}, 6) + 0.0 AS nmi
        FROM mi, hx, hy
    """,
}
