"""F++ family — association / agreement / robust-trend statistics.

Nothing like these exists in the reference (SURVEY.md §2.2: the only
arithmetic there is split-offset math); they extend the statistical
surface a curation dashboard runs over ingested corpora: inter-rater
agreement (Cohen's kappa), rank association (Kendall's tau), effect
size (Cohen's d / Hedges' g), a Pearson correlation matrix, and the
robust Theil–Sen trend slope.

Determinism follows the CLAUDE.md round-5/6 statistics recipes:
  * floor/round inputs to EXACT int64 units, aggregate exact power /
    pair-count sums (merge-order-free), and only then evaluate ONE
    identically-parenthesized double tree shared verbatim with the
    DuckDB oracle (sqrt snapped to 8, final statistic to 4, ``+ 0``
    clearing IEEE -0.0);
  * where a statistic is a pure ratio of integers (kappa, tau-a) the
    exact numerator/denominator are ALSO exposed as BIGINT columns —
    zero floating point in the primary result;
  * medians collapse to one row per value, then read the "lower
    median" off ``functions.num.running_counts`` (2*cw >= n) — no
    percentile interpolation, no double ordering ambiguity.  The
    revenue-cents quantiles share their collapsed ``(flag, pc, cnt)``
    input, :func:`flag_cents`, with robust_stats.

Scale notes:
  * pairwise ops (tau, Theil–Sen) self-join WITHIN a bounded group
    (order: ≤ O(10) lines; user history: bounded per-user) — the join
    key co-partitions both sides, pairs per group are O(k²) on a
    k that does NOT grow with corpus size, so the shuffle is one
    key-hash exchange and the blow-up is a constant factor.
  * kappa / effect-size / corr-matrix are single full-aggregate passes
    with map-side partials — one 1-row (or |groups|-row) exchange.
  * int64 overflow budgets are documented per-op; past them, re-unit
    the integer inputs first (the agg_moments rule).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hadoop_fixedlengthinputformat_spark.functions.num import (
    money_units,
    running_counts,
    snap_sql,
)
from hadoop_fixedlengthinputformat_spark.registry import query
from hadoop_fixedlengthinputformat_spark.tables import load_table


# Cohen's kappa on the 2x2 agreement table is an EXACT integer
# fraction: kappa = (N*(a+d) - (r1*c1 + r2*c2)) / (N*N - (r1*c1+r2*c2))
# — no floating point anywhere except the final convenience ratio.
_KAPPA = snap_sql("CAST(kappa_num AS DOUBLE) / kappa_den", 4)


@query(
    "agg_cohen_kappa",
    oracle=f"""
    WITH base AS (
        SELECT CASE WHEN o_totalprice >= 150000 THEN 1 ELSE 0 END AS rp,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS rq
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (rp = 1 AND rq = 1) AS BIGINT) AS a,
               CAST(count(*) FILTER (rp = 1 AND rq = 0) AS BIGINT) AS b,
               CAST(count(*) FILTER (rp = 0 AND rq = 1) AS BIGINT) AS c,
               CAST(count(*) FILTER (rp = 0 AND rq = 0) AS BIGINT) AS d
        FROM base
    ),
    k AS (
        SELECT n, a + d AS agree,
               CAST(n * (a + d)
                    - ((a + b) * (a + c) + (c + d) * (b + d))
                    AS BIGINT) AS kappa_num,
               CAST(n * n
                    - ((a + b) * (a + c) + (c + d) * (b + d))
                    AS BIGINT) AS kappa_den
        FROM g
    )
    SELECT n AS n_orders, CAST(agree AS BIGINT) AS agree,
           kappa_num, kappa_den, {_KAPPA} + 0 AS kappa
    FROM k WHERE n > 0 AND kappa_den > 0
    """,
)
def agg_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between two deterministic binary
    "raters" over orders (price-threshold vs priority-class labelers —
    the shape of comparing a heuristic quality filter against a model
    classifier on the same corpus).  The 2x2 table is four exact
    conditional counts in ONE full aggregate (map-side combined, one
    1-row exchange), and kappa is an EXACT integer fraction
    (N·diag − Σrᵢcᵢ) / (N² − Σrᵢcᵢ) exposed as BIGINT num/den columns;
    the double ratio is a convenience, snapped to 4.  Overflow: N² at
    int64 holds past 3e9 orders — beyond, the fraction needs one
    re-unit (or DECIMAL) but the counts themselves never overflow."""
    o = load_table(spark, sf_dir, "orders")
    base = o.where(
        F.col("o_totalprice").isNotNull()
        & F.col("o_orderpriority").isNotNull()
    ).select(
        F.when(F.col("o_totalprice") >= 150000, 1).otherwise(0).alias("rp"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("rq"),
    )

    def cell(p: int, q: int, name: str):
        return F.sum(
            F.when((F.col("rp") == p) & (F.col("rq") == q), 1).otherwise(0)
        ).cast("long").alias(name)

    g = base.agg(
        F.count(F.lit(1)).alias("n"),
        cell(1, 1, "a"), cell(1, 0, "b"), cell(0, 1, "c"), cell(0, 0, "d"),
    )
    pe_sum = (
        (F.col("a") + F.col("b")) * (F.col("a") + F.col("c"))
        + (F.col("c") + F.col("d")) * (F.col("b") + F.col("d"))
    )
    k = g.select(
        "n",
        (F.col("a") + F.col("d")).alias("agree"),
        (F.col("n") * (F.col("a") + F.col("d")) - pe_sum)
        .cast("long").alias("kappa_num"),
        (F.col("n") * F.col("n") - pe_sum).cast("long").alias("kappa_den"),
    )
    return k.where((F.col("n") > 0) & (F.col("kappa_den") > 0)).select(
        F.col("n").alias("n_orders"),
        F.col("agree").cast("long").alias("agree"),
        "kappa_num",
        "kappa_den",
        (F.expr(_KAPPA) + F.lit(0.0)).alias("kappa"),
    )


# Kendall: tau-a = (C - D) / n0 is an exact fraction; tau-b divides by
# sqrt((n0-n1)(n0-n2)) — evaluated as tie-FRACTIONS (≤ 1) so the one
# snapped transcendental is magnitude-bounded at any corpus size (the
# Spark floor()-is-LONG snap rule, see _corr_expr).
_TAU_B_DEN = snap_sql(
    "sqrt((CAST(n_pairs - tx AS DOUBLE) / n_pairs)"
    " * (CAST(n_pairs - ty AS DOUBLE) / n_pairs))", 8
)
_TAU_A = snap_sql("CAST(concordant - discordant AS DOUBLE) / n_pairs", 4)
_TAU_B = snap_sql(
    "(CAST(concordant - discordant AS DOUBLE) / n_pairs)"
    f" / ({_TAU_B_DEN})", 4
)


@query(
    "agg_kendall_tau",
    oracle=f"""
    WITH li AS (
        SELECT l_orderkey, l_linenumber,
               CAST(round(l_quantity * 100, 0) AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
              AND l_linenumber IS NOT NULL
    ),
    pairs AS (
        SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_linenumber < b.l_linenumber
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(count(*) FILTER ((x1 < x2 AND y1 < y2)
                    OR (x1 > x2 AND y1 > y2)) AS BIGINT) AS concordant,
               CAST(count(*) FILTER ((x1 < x2 AND y1 > y2)
                    OR (x1 > x2 AND y1 < y2)) AS BIGINT) AS discordant,
               CAST(count(*) FILTER (x1 = x2) AS BIGINT) AS tx,
               CAST(count(*) FILTER (y1 = y2) AS BIGINT) AS ty
        FROM pairs
    )
    SELECT n_pairs, concordant, discordant, tx AS ties_x, ty AS ties_y,
           {_TAU_A} + 0 AS tau_a, {_TAU_B} + 0 AS tau_b
    FROM g WHERE n_pairs > tx AND n_pairs > ty
    """,
)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled within-order Kendall rank association between quantity
    and extended price: concordant/discordant/tied pair counts over
    all (i<j) line pairs of each order, pooled corpus-wide (the
    stratified-pairs construction — association is measured within
    strata so the order mix can't confound it).  EXACT integer cent
    units and exact pair counts; tau-a is an exact fraction, tau-b's
    sqrt is snapped to 8 before the final snap-4 ratio.  Scale: the
    self-join key (orderkey) co-partitions both sides in ONE exchange
    and groups are ≤ O(10) lines, so pairs are a bounded constant
    factor (≤ 78 rows per order at TPC-H line counts) — no quadratic
    blow-up in corpus size, no skew (order sizes are capped)."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.where(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
        & F.col("l_linenumber").isNotNull()
    ).select(
        "l_orderkey",
        "l_linenumber",
        money_units(F.col("l_quantity"), 2).alias("x"),
        money_units(F.col("l_extendedprice"), 2).alias("y"),
    )
    a = base.alias("a")
    b = base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
    ).select(
        F.col("a.x").alias("x1"), F.col("a.y").alias("y1"),
        F.col("b.x").alias("x2"), F.col("b.y").alias("y2"),
    )

    def cnt(cond, name: str):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)

    x1, y1, x2, y2 = (F.col(c) for c in ("x1", "y1", "x2", "y2"))
    g = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        cnt(((x1 < x2) & (y1 < y2)) | ((x1 > x2) & (y1 > y2)), "concordant"),
        cnt(((x1 < x2) & (y1 > y2)) | ((x1 > x2) & (y1 < y2)), "discordant"),
        cnt(x1 == x2, "tx"),
        cnt(y1 == y2, "ty"),
    )
    return g.where(
        (F.col("n_pairs") > F.col("tx")) & (F.col("n_pairs") > F.col("ty"))
    ).select(
        "n_pairs",
        "concordant",
        "discordant",
        F.col("tx").alias("ties_x"),
        F.col("ty").alias("ties_y"),
        (F.expr(_TAU_A) + F.lit(0.0)).alias("tau_a"),
        (F.expr(_TAU_B) + F.lit(0.0)).alias("tau_b"),
    )


# Effect size from exact power sums: (n-1)*s² per class is exactly
# v/n with v = n*S2 - S1², so the pooled sd is
# sqrt((va/na + vr/nr) / (na + nr - 2)) — one double tree, sqrt
# snapped to 8, d and g to 4.
#
# v is evaluated in DOUBLE like the adjacent _corr_expr (ADVICE r6,
# high): the int64 product n*S2 overflows at ~7e4 rows/class for
# price-magnitude data (measured 3.34e20 at sf0.1 vs int64 max
# 9.2e18 — DuckDB raises, Spark long*long WRAPS silently).  The
# int64→double casts and the subtraction round identically on both
# engines (same IEEE ops on identical exact-int operands), so
# determinism is preserved; only the SUMS carry the overflow budget
# now (S2 ≤ 1.3e10·n — int64-safe to ~7e8 rows/class).
_D_VF = "(CAST(nf AS DOUBLE) * s2f - CAST(s1f AS DOUBLE) * s1f)"
_D_VO = "(CAST(no_ AS DOUBLE) * s2o - CAST(s1o AS DOUBLE) * s1o)"
_D_SP = snap_sql(
    f"sqrt((({_D_VF}) / CAST(nf AS DOUBLE) + ({_D_VO}) / CAST(no_ AS DOUBLE))"
    " / (nf + no_ - 2))", 8
)
_D_STAT = snap_sql(
    f"(s1f / CAST(nf AS DOUBLE) - s1o / CAST(no_ AS DOUBLE)) / ({_D_SP})", 4
)
_G_STAT = snap_sql(
    f"(({_D_STAT}) * (1.0 - 3.0 / (4.0 * (nf + no_) - 9.0)))", 4
)


@query(
    "agg_cohens_d",
    oracle=f"""
    WITH base AS (
        SELECT l_linestatus, CAST(floor(l_extendedprice) AS BIGINT) AS xi
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_linestatus IN ('F', 'O')
    ),
    g AS (
        SELECT CAST(count(*) FILTER (l_linestatus = 'F') AS BIGINT) AS nf,
               CAST(SUM(xi)  FILTER (l_linestatus = 'F') AS BIGINT) AS s1f,
               CAST(SUM(xi*xi) FILTER (l_linestatus = 'F') AS BIGINT) AS s2f,
               CAST(count(*) FILTER (l_linestatus = 'O') AS BIGINT) AS no_,
               CAST(SUM(xi)  FILTER (l_linestatus = 'O') AS BIGINT) AS s1o,
               CAST(SUM(xi*xi) FILTER (l_linestatus = 'O') AS BIGINT) AS s2o
        FROM base
    )
    SELECT nf AS n_f, no_ AS n_o,
           {_D_STAT} + 0 AS cohens_d, {_G_STAT} + 0 AS hedges_g
    FROM g
    WHERE nf >= 2 AND no_ >= 2 AND ({_D_VF} > 0 OR {_D_VO} > 0)
    """,
)
def agg_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d and Hedges' g effect size of extended price between
    line statuses F and O — the "is this distribution shift material"
    companion to agg_ttest's "is it significant".  Same one-pass exact
    int64 power-sum shape (conditional sums inside a single global
    aggregate, map-side combined); pooled sd uses (n−1)s² = v/n with
    v = n·S₂−S₁² evaluated in DOUBLE (the _corr_expr convention —
    identical IEEE tree both engines; an int64 v overflowed at a mere
    ~7e4 rows/class, ADVICE r6).  sqrt snap-8, statistics snap-4.
    Overflow budget: only the exact SUMS bind now — S₂ ≤ 1.3e10·n is
    int64-safe to ~7e8 rows per class; floor to hundreds of dollars
    beyond.  Pinned vs numpy at sf0.1 (past the old cliff) in
    tests/test_stats_extras.py."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.where(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_linestatus").isin("F", "O")
    ).select(
        "l_linestatus", F.floor("l_extendedprice").cast("long").alias("xi")
    )
    x = F.col("xi")

    def side(flag: str, expr, name: str):
        return F.sum(
            F.when(F.col("l_linestatus") == flag, expr).otherwise(F.lit(0))
        ).alias(name)

    def cnt(flag: str, name: str):
        return F.sum(
            F.when(F.col("l_linestatus") == flag, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias(name)

    g = base.agg(
        cnt("F", "nf"), side("F", x, "s1f"), side("F", x * x, "s2f"),
        cnt("O", "no_"), side("O", x, "s1o"), side("O", x * x, "s2o"),
    )
    return g.where(
        (F.col("nf") >= 2) & (F.col("no_") >= 2)
        & ((F.expr(_D_VF) > 0) | (F.expr(_D_VO) > 0))
    ).select(
        F.col("nf").alias("n_f"),
        F.col("no_").alias("n_o"),
        (F.expr(_D_STAT) + F.lit(0.0)).alias("cohens_d"),
        (F.expr(_G_STAT) + F.lit(0.0)).alias("hedges_g"),
    )


# Pearson r from exact int64 power sums; the variance/covariance terms
# are evaluated in DOUBLE (deterministic: identical IEEE ops on
# identical exact-int operands) so no n*S2 int64 overflow cliff exists
# anywhere — the SUMS carry the budget, not the products.
#
# snap() magnitude rule (learned here): Spark's floor() returns LONG,
# so snap-8 saturates for |x| > ~9.2e10 while DuckDB's floor stays
# DOUBLE — NEVER snap an un-normalized quantity.  Divide by n² first:
# cov/n² and the sds vx/n², vy/n² are in (bounded) data units, so the
# snapped operands can't outgrow int64 at any corpus size.
def _corr_expr(sx: str, sy: str, sxx: str, syy: str, sxy: str) -> str:
    n2 = "(CAST(n AS DOUBLE) * n)"
    sdx = f"sqrt((CAST(n AS DOUBLE) * {sxx} - CAST({sx} AS DOUBLE) * {sx}) / {n2})"
    sdy = f"sqrt((CAST(n AS DOUBLE) * {syy} - CAST({sy} AS DOUBLE) * {sy}) / {n2})"
    cov = f"((CAST(n AS DOUBLE) * {sxy} - CAST({sx} AS DOUBLE) * {sy}) / {n2})"
    return snap_sql(
        f"{cov} / (({snap_sql(sdx, 8)}) * ({snap_sql(sdy, 8)}))", 4
    )


_CORR_QP = _corr_expr("sq", "sp", "sqq", "spp", "sqp")
_CORR_QD = _corr_expr("sq", "sd", "sqq", "sdd", "sqd")
_CORR_PD = _corr_expr("sp", "sd", "spp", "sdd", "spd")


@query(
    "agg_corr_matrix",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag,
               CAST(floor(l_quantity) AS BIGINT) AS q,
               CAST(floor(l_extendedprice) AS BIGINT) AS p,
               CAST(round(l_discount * 10000, 0) AS BIGINT) AS d
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
              AND l_discount IS NOT NULL AND l_returnflag IS NOT NULL
    ),
    g AS (
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(p) AS BIGINT) AS sp,
               CAST(SUM(d) AS BIGINT) AS sd,
               CAST(SUM(q*q) AS BIGINT) AS sqq,
               CAST(SUM(p*p) AS BIGINT) AS spp,
               CAST(SUM(d*d) AS BIGINT) AS sdd,
               CAST(SUM(q*p) AS BIGINT) AS sqp,
               CAST(SUM(q*d) AS BIGINT) AS sqd,
               CAST(SUM(p*d) AS BIGINT) AS spd
        FROM base GROUP BY l_returnflag HAVING count(*) >= 2
    )
    SELECT l_returnflag, 'quantity' AS var_x, 'price' AS var_y,
           n AS n_rows, {_CORR_QP} + 0 AS corr
    FROM g
    UNION ALL
    SELECT l_returnflag, 'quantity', 'discount', n, {_CORR_QD} + 0
    FROM g
    UNION ALL
    SELECT l_returnflag, 'price', 'discount', n, {_CORR_PD} + 0
    FROM g
    """,
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over three lineitem
    measures (quantity, price dollars, discount basis points) per
    return flag — the feature-correlation screen a mixing pipeline
    runs before weighting quality signals.  ONE groupBy computes all
    ten exact int64 power sums (map-side partial, one |flags|-row
    exchange); the three correlations are then three rows UNION'd from
    that single aggregate — the scan and shuffle are NOT repeated per
    pair.  n·S₂−S₁² terms are evaluated in double (identical IEEE tree
    both engines, so no int64 n·S₂ overflow cliff); sqrt snap-8, r
    snap-4.  Sum budget: S_pp ≤ 1e10·n → int64-safe to ~9e8 rows per
    flag; re-unit price to hundreds beyond."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.where(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
        & F.col("l_discount").isNotNull()
        & F.col("l_returnflag").isNotNull()
    ).select(
        "l_returnflag",
        F.floor("l_quantity").cast("long").alias("q"),
        F.floor("l_extendedprice").cast("long").alias("p"),
        money_units(F.col("l_discount"), 4).alias("d"),
    )
    q, p, d = F.col("q"), F.col("p"), F.col("d")
    g = (
        base.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(q).alias("sq"), F.sum(p).alias("sp"),
            F.sum(d).alias("sd"),
            F.sum(q * q).alias("sqq"), F.sum(p * p).alias("spp"),
            F.sum(d * d).alias("sdd"),
            F.sum(q * p).alias("sqp"), F.sum(q * d).alias("sqd"),
            F.sum(p * d).alias("spd"),
        )
        .where(F.col("n") >= 2)
    )

    def row(xn: str, yn: str, expr: str) -> DataFrame:
        return g.select(
            "l_returnflag",
            F.lit(xn).alias("var_x"),
            F.lit(yn).alias("var_y"),
            F.col("n").alias("n_rows"),
            (F.expr(expr) + F.lit(0.0)).alias("corr"),
        )

    return (
        row("quantity", "price", _CORR_QP)
        .unionAll(row("quantity", "discount", _CORR_QD))
        .unionAll(row("price", "discount", _CORR_PD))
    )


# Theil–Sen look-back caps.  BOTH estimators are bounded by
# construction (VERDICT r8 #2: the uncapped full-history variant is
# O(history²) pairs per user — its own round-8 sf1 soak note said it
# cannot run at sf1, so "unbounded" is not a shippable mode at 100 TB):
#   * ts_theil_sen        K=256 — the "full window" drift estimator; at
#     every driver scale (per-user history ≤ 99 rows at sf0.001–sf0.1)
#     the cap is not reached, so results equal the textbook
#     all-history estimator there, while sf1+ is bounded at ≤ 32,640
#     pairs/user regardless of corpus size.
#   * ts_theil_sen_recent K=64  — the recency-trend monitor
#     (≤ 2,016 pairs/user).
_TS_FULL_K = 256
_TS_RECENT_K = 64


def _theil_sen_oracle(k: int) -> str:
    """DuckDB oracle for the K-bounded Theil–Sen slope (shared by both
    registered variants — only the look-back cap differs)."""
    return f"""
    WITH ev AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
               CAST(round(value * 100, 0) AS BIGINT) AS y,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts) DESC,
                                           event_id DESC,
                                           CAST(round(value * 100, 0)
                                                AS BIGINT) DESC) AS rrn
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
              AND event_id IS NOT NULL
    ),
    recent AS (SELECT user_id, t, y FROM ev WHERE rrn <= {k}),
    slopes AS (
        SELECT a.user_id,
               CAST((b.y - a.y) * 86400 AS DOUBLE) / (b.t - a.t) AS slope
        FROM recent a JOIN recent b
          ON a.user_id = b.user_id AND a.t < b.t
    ),
    per AS (
        SELECT user_id, slope, CAST(count(*) AS BIGINT) AS cnt
        FROM slopes GROUP BY user_id, slope
    ),
    cum AS (
        SELECT user_id, slope,
               CAST(SUM(cnt) OVER (PARTITION BY user_id
                                   ORDER BY slope) AS BIGINT) AS cw,
               CAST(SUM(cnt) OVER (PARTITION BY user_id)
                    AS BIGINT) AS total
        FROM per
    )
    SELECT user_id, total AS n_pairs,
           {snap_sql('MIN(slope)', 4)} + 0 AS sen_slope
    FROM cum WHERE 2 * cw >= total
    GROUP BY user_id, total
    """


def _theil_sen_df(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """K-bounded Theil–Sen slope plan shared by both variants: one
    ROW_NUMBER recency window (rank filter → WindowGroupLimit below the
    exchange), pair self-join co-partitioned on user_id, per-value-
    collapse LOWER median.  The recency order is the TOTAL order
    (ts DESC, event_id DESC, y DESC) — the y tiebreak makes the rank-K
    boundary row deterministic even on rolls with duplicate
    (ts, event_id) pairs (ADVICE r8; the ts_autocorr convention)."""
    ev = load_table(spark, sf_dir, "events")
    recent = (
        ev.where(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & F.col("event_id").isNotNull()
        )
        .select(
            "user_id",
            F.col("ts").cast("timestamp").cast("long").alias("t"),
            money_units(F.col("value"), 2).alias("y"),
            F.row_number()
            .over(
                Window.partitionBy("user_id").orderBy(
                    F.desc("ts"),
                    F.desc("event_id"),
                    F.desc(money_units(F.col("value"), 2)),
                )
            )
            .alias("rrn"),
        )
        .where(F.col("rrn") <= k)
        .drop("rrn")
    )
    a = recent.alias("a")
    b = recent.alias("b")
    slopes = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.t") < F.col("b.t")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        (
            ((F.col("b.y") - F.col("a.y")) * 86400).cast("double")
            / (F.col("b.t") - F.col("a.t"))
        ).alias("slope"),
    )
    per = slopes.groupBy("user_id", "slope").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cum = running_counts(per, "user_id", "slope")
    return (
        cum.where(2 * F.col("cw") >= F.col("n"))
        .groupBy("user_id", "n")
        .agg(F.min("slope").alias("med"))
        .select(
            "user_id",
            F.col("n").alias("n_pairs"),
            (F.expr(snap_sql("med", 4)) + F.lit(0.0)).alias("sen_slope"),
        )
    )


@query("ts_theil_sen", oracle=_theil_sen_oracle(_TS_FULL_K))
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend slope of event value per user: the
    median of all pairwise slopes (Δvalue/Δt, cents per DAY) over
    strictly time-ordered event pairs within the most recent
    K=256 events per user — the outlier-proof drift estimator for
    per-source quality trends.  The look-back cap is the VERDICT r8 #2
    fix: pairwise slopes are O(k²), so the history the estimator
    consumes must be bounded BY CONSTRUCTION (≤ 32,640 pairs/user at
    any corpus size) rather than by hoping per-user history stays
    small; at driver scales (≤ 99 events/user through sf0.1) the cap
    never binds, so results are identical to the uncapped textbook
    estimator there.  Every slope is one exact IEEE division of exact
    int64 cents by exact int64 seconds (identical bits both engines;
    same-timestamp pairs are excluded, so no zero division and no
    -0.0), and the median is the per-value-collapse LOWER median
    over ``running_counts`` — no percentile interpolation.  Scale:
    ONE user_id exchange shared by the recency window (rank-filter →
    WindowGroupLimit pre-shuffle), the pair self-join and the median
    windows; the median runs over the collapsed |distinct slopes|
    rows, not the raw pairs."""
    return _theil_sen_df(spark, sf_dir, _TS_FULL_K)


@query("ts_theil_sen_recent", oracle=_theil_sen_oracle(_TS_RECENT_K))
def ts_theil_sen_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen trend slope over each user's MOST RECENT 64 events —
    the recency-trend monitor a quality pipeline runs continuously:
    K=64 bounds every user at ≤ 2,016 pairs REGARDLESS of corpus size.
    Same plan, arithmetic and determinism story as ts_theil_sen (the
    shared _theil_sen_df builder) — only the look-back cap differs."""
    return _theil_sen_df(spark, sf_dir, _TS_RECENT_K)


# Mutual information from exact counts, by the entropy identity
# MI = H(X) + H(Y) - H(X,Y) = ln N + (slxy - slx - sly) / (N * 1e8),
# where sl* are exact int64 sums of c * round(ln(c) * 1e8) over the
# DISTINCT class counts (the agg_entropy / llm_lm_score transcendental
# rule: one ln per distinct count, snapped straight to integer units,
# so merge order can never move a sum).  Theil's uncertainty
# coefficient U(flag|status) = MI / H(flag) rides the same sums.
_MI_RAW = (
    "floor(ln(CAST(n AS DOUBLE)) * 100000000.0 + 0.5) / 100000000.0"
    " + (CAST(slxy AS DOUBLE) - CAST(slx AS DOUBLE) - CAST(sly AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * 100000000.0)"
)
_MI_HX_RAW = (
    "floor(ln(CAST(n AS DOUBLE)) * 100000000.0 + 0.5) / 100000000.0"
    " - CAST(slx AS DOUBLE) / (CAST(n AS DOUBLE) * 100000000.0)"
)
_MI_NATS = snap_sql(_MI_RAW, 4)
_MI_THEIL_U = snap_sql(f"({_MI_RAW}) / ({_MI_HX_RAW})", 4)
_LN8_INT = "CAST(floor(ln(CAST({v} AS DOUBLE)) * 100000000.0 + 0.5) AS BIGINT)"


@query(
    "agg_mutual_info",
    oracle=f"""
    WITH cells AS (
        SELECT l_returnflag AS flag, l_linestatus AS st,
               CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem
        WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
        GROUP BY flag, st
    ),
    xy AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(cnt * {_LN8_INT.format(v='cnt')}) AS BIGINT) AS slxy
        FROM cells
    ),
    xs AS (SELECT CAST(SUM(cnt) AS BIGINT) AS cx FROM cells GROUP BY flag),
    x AS (
        SELECT CAST(count(*) AS BIGINT) AS dx,
               CAST(SUM(cx * {_LN8_INT.format(v='cx')}) AS BIGINT) AS slx
        FROM xs
    ),
    ys AS (SELECT CAST(SUM(cnt) AS BIGINT) AS cy FROM cells GROUP BY st),
    y AS (
        SELECT CAST(count(*) AS BIGINT) AS dy,
               CAST(SUM(cy * {_LN8_INT.format(v='cy')}) AS BIGINT) AS sly
        FROM ys
    )
    SELECT n AS n_rows, {_MI_NATS} + 0 AS mi_nats,
           {_MI_THEIL_U} + 0 AS theil_u
    FROM xy, x, y WHERE dx > 1 AND dy > 1
    """,
)
def agg_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between return flag and line status,
    plus Theil's uncertainty coefficient U(flag|status) = MI/H(flag) —
    the categorical-association pair a curation dashboard runs next to
    cramers_v/entropy.  Exact-count recipe: MI = H(X)+H(Y)-H(XY)
    collapses to ln N + (slxy - slx - sly)/(N*1e8) where each sl* is an
    exact int64 sum of c * round(ln(c)*1e8) over DISTINCT class counts
    (one transcendental per distinct count, snapped straight to integer
    units — the agg_entropy rule), so every aggregate is
    merge-order-free and the only shared double trees are the final MI
    and U combinations (snapped to 4, +0 clearing -0.0).  Degenerate
    marginals (a single flag or a single status) yield no row — U is
    undefined at H(flag)=0 and MI is identically 0.  Shuffle shape: ONE
    map-side-combined (flag, status) groupBy collapses the corpus to
    <= |flags|*|statuses| cells; every later aggregate runs on that
    cell table (broadcast 1-row joins).  Overflow budget: sl* <=
    N*ln(N)*1e8 — int64-exact to ~4e9 rows, then the sums (not the
    snapped lns) need DECIMAL(38,0)/HUGEINT."""
    li = load_table(spark, sf_dir, "lineitem")
    # localCheckpoint the cell table: three aggregates consume it, and
    # without it Spark recomputes the corpus scan + (flag, status)
    # shuffle once PER consumer (plan-audited round 9) — the cells are
    # <= |flags|*|statuses| rows, so materializing is free
    cells = (
        li.where(
            F.col("l_returnflag").isNotNull()
            & F.col("l_linestatus").isNotNull()
        )
        .groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_linestatus").alias("st"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )

    def ln8(col: str):
        return F.floor(
            F.log(F.col(col).cast("double")) * 100000000.0 + 0.5
        ).cast("long")

    xy = cells.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * ln8("cnt")).alias("slxy"),
    )
    x = (
        cells.groupBy("flag")
        .agg(F.sum("cnt").alias("cx"))
        .agg(
            F.count(F.lit(1)).alias("dx"),
            F.sum(F.col("cx") * ln8("cx")).alias("slx"),
        )
    )
    y = (
        cells.groupBy("st")
        .agg(F.sum("cnt").alias("cy"))
        .agg(
            F.count(F.lit(1)).alias("dy"),
            F.sum(F.col("cy") * ln8("cy")).alias("sly"),
        )
    )
    j = xy.crossJoin(F.broadcast(x)).crossJoin(F.broadcast(y))
    return j.where((F.col("dx") > 1) & (F.col("dy") > 1)).select(
        F.col("n").alias("n_rows"),
        (F.expr(_MI_NATS) + F.lit(0.0)).alias("mi_nats"),
        (F.expr(_MI_THEIL_U) + F.lit(0.0)).alias("theil_u"),
    )


def flag_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(flag, pc, cnt)``: lineitem collapsed to one row per return
    flag and extended price in exact integer cents, with its row count
    (rows with either NULL dropped) — the input of the revenue-cents
    quantile family, the oracles' ``base`` + ``per`` CTEs."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.where(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_returnflag").isNotNull()
    ).select(
        F.col("l_returnflag").alias("flag"),
        money_units(F.col("l_extendedprice"), 2).alias("pc"),
    )
    return base.groupBy("flag", "pc").agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "agg_percentile_exact",
    oracle="""
    WITH base AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    ),
    per AS (
        SELECT flag, pc, CAST(count(*) AS BIGINT) AS cnt
        FROM base GROUP BY flag, pc
    ),
    cum AS (
        SELECT flag, pc,
               CAST(SUM(cnt) OVER (PARTITION BY flag
                                   ORDER BY pc) AS BIGINT) AS cw,
               CAST(SUM(cnt) OVER (PARTITION BY flag)
                    AS BIGINT) AS n
        FROM per
    )
    SELECT flag, n AS n_rows,
           MIN(CASE WHEN 100 * cw >= 50 * n THEN pc END) AS p50_cents,
           MIN(CASE WHEN 100 * cw >= 90 * n THEN pc END) AS p90_cents,
           MIN(CASE WHEN 100 * cw >= 99 * n THEN pc END) AS p99_cents
    FROM cum GROUP BY flag, n
    """,
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p90/p99 of revenue cents per return flag — the
    integer-rank companion to agg_approx_percentile: the p-th
    percentile is the smallest value whose running count reaches
    ceil(p/100 * n), selected with the pure-integer predicate
    100*cw >= p*n over ``running_counts`` (no interpolation, no
    doubles anywhere, so nothing to snap).  All
    three percentiles read off ONE running-count window via
    conditional MINs.  Shuffle shape: one map-side-combined (flag,
    value) groupBy collapses the corpus to |distinct cents| rows per
    group, then a flag-keyed window over the collapsed rows and a
    tiny final groupBy.  Overflow: 100*cw <= 100n — int64 to ~9e16
    rows."""
    cum = running_counts(flag_cents(spark, sf_dir), "flag", "pc")

    def pick(p: int, name: str):
        return F.min(
            F.when(100 * F.col("cw") >= p * F.col("n"), F.col("pc"))
        ).alias(name)

    return (
        cum.groupBy("flag", "n")
        .agg(pick(50, "p50_cents"), pick(90, "p90_cents"),
             pick(99, "p99_cents"))
        .select(
            "flag", F.col("n").alias("n_rows"),
            "p50_cents", "p90_cents", "p99_cents",
        )
    )


@query(
    "ts_mad_outliers",
    oracle="""
    WITH base AS (
        SELECT user_id, CAST(round(value * 100, 0) AS BIGINT) AS vc
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
    ),
    per AS (
        SELECT user_id, vc, CAST(count(*) AS BIGINT) AS cnt
        FROM base GROUP BY user_id, vc
    ),
    cum AS (
        SELECT user_id, vc,
               CAST(SUM(cnt) OVER (PARTITION BY user_id
                                   ORDER BY vc) AS BIGINT) AS cw,
               CAST(SUM(cnt) OVER (PARTITION BY user_id)
                    AS BIGINT) AS n
        FROM per
    ),
    med AS (
        SELECT user_id, MIN(vc) AS med, n
        FROM cum WHERE 2 * cw >= n GROUP BY user_id, n
    ),
    dev AS (
        SELECT b.user_id, abs(b.vc - m.med) AS d, m.med, m.n
        FROM base b JOIN med m ON m.user_id = b.user_id
    ),
    dper AS (
        SELECT user_id, d, med, n, CAST(count(*) AS BIGINT) AS cnt
        FROM dev GROUP BY user_id, d, med, n
    ),
    dcum AS (
        SELECT user_id, d, med, n,
               CAST(SUM(cnt) OVER (PARTITION BY user_id
                                   ORDER BY d) AS BIGINT) AS cw
        FROM dper
    ),
    mad AS (
        SELECT user_id, MIN(d) AS mad, med, n
        FROM dcum WHERE 2 * cw >= n GROUP BY user_id, med, n
    )
    SELECT v.user_id, m.n AS n_rows, m.med AS med_cents,
           m.mad AS mad_cents,
           CAST(count(*) FILTER (abs(v.vc - m.med) > 3 * m.mad)
                AS BIGINT) AS n_outliers
    FROM base v JOIN mad m ON m.user_id = v.user_id
    GROUP BY v.user_id, m.n, m.med, m.mad
    """,
)
def ts_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation robust outlier census per user — the
    quality-monitoring primitive that survives the heavy tails z-scores
    choke on.  EXACT int64 end to end: cent values, LOWER median via
    the per-value collapse over ``running_counts``, absolute
    deviations (ints), LOWER median of deviations (MAD, same
    construction), and the outlier predicate |v - med| > 3*MAD — zero
    doubles anywhere, nothing to snap (ties make MAD=0 degrade
    gracefully: any deviating row is then an outlier, identically on
    both engines).  Shuffle shape: two collapse rounds — each is a
    map-side-combined (user, value) groupBy to |distinct values| rows
    + a user-keyed window — plus med/mad join backs (|users| rows,
    localCheckpointed so their window chains compute once).  The
    join-back tables grow with user cardinality, NOT with SF, so they
    carry no broadcast hint: AQE picks broadcast-hash while they fit
    (it does at grade scale — plan-pinned) and degrades to a shuffle
    join instead of an executor OOM when |users| outgrows the
    threshold (VERDICT r9 #2; same rule as the r8 sweep of SF-growing
    tables, gated by tests/test_scale_plans.py).  The pruned
    (user_id, value) corpus is
    scanned once per stage (3x) — the inherent cost of
    median-of-deviations without caching; persist the 2-column
    projection first if scans dominate at the target scale.  Overflow:
    counts only — int64-trivial."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    ).select("user_id", money_units(F.col("value"), 2).alias("vc"))

    def lower_median(df: DataFrame, col: str, out: str) -> DataFrame:
        per = df.groupBy("user_id", col).agg(F.count(F.lit(1)).alias("cnt"))
        cum = running_counts(per, "user_id", col)
        return (
            cum.where(2 * F.col("cw") >= F.col("n"))
            .groupBy("user_id", "n")
            .agg(F.min(col).alias(out))
        )

    med = lower_median(base, "vc", "med").localCheckpoint(eager=True)
    dev = base.join(med.select("user_id", "med"), "user_id").select(
        "user_id", "med", F.abs(F.col("vc") - F.col("med")).alias("d")
    )
    mad = (
        lower_median(dev, "d", "mad")
        .select("user_id", "mad")
        .localCheckpoint(eager=True)
    )
    joined = base.join(med, "user_id").join(mad, "user_id")
    return joined.groupBy("user_id", "n", "med", "mad").agg(
        F.sum(
            F.when(
                F.abs(F.col("vc") - F.col("med")) > 3 * F.col("mad"), 1
            ).otherwise(0)
        ).cast("long").alias("n_outliers")
    ).select(
        "user_id",
        F.col("n").alias("n_rows"),
        F.col("med").alias("med_cents"),
        F.col("mad").alias("mad_cents"),
        "n_outliers",
    )


@query(
    "agg_winsorized_mean",
    oracle="""
    WITH base AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    ),
    per AS (
        SELECT flag, pc, CAST(count(*) AS BIGINT) AS cnt
        FROM base GROUP BY flag, pc
    ),
    cum AS (
        SELECT flag, pc, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY flag
                                   ORDER BY pc) AS BIGINT) AS cw,
               CAST(SUM(cnt) OVER (PARTITION BY flag)
                    AS BIGINT) AS n
        FROM per
    ),
    thr AS (
        SELECT flag, n,
               MIN(CASE WHEN 100 * cw >= 10 * n THEN pc END) AS lo,
               MIN(CASE WHEN 100 * cw >= 90 * n THEN pc END) AS hi
        FROM cum GROUP BY flag, n
    ),
    s AS (
        SELECT p.flag, t.n, t.lo, t.hi,
               CAST(SUM(p.cnt * CASE WHEN p.pc < t.lo THEN t.lo
                                     WHEN p.pc > t.hi THEN t.hi
                                     ELSE p.pc END) AS BIGINT) AS wsum
        FROM per p JOIN thr t ON t.flag = p.flag
        GROUP BY p.flag, t.n, t.lo, t.hi
    )
    SELECT flag, n AS n_rows, lo AS lo_cents, hi AS hi_cents,
           floor(CAST(wsum AS DOUBLE) / CAST(n AS DOUBLE) * 10000 + 0.5)
               / 10000 + 0 AS wmean_cents
    FROM s
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of revenue cents per return flag — the robust
    location estimator curation pipelines prefer over trimming when the
    sample count must stay constant: values below the exact p10 are
    clamped UP to it and values above the exact p90 clamped DOWN, then
    the plain mean.  Thresholds are integer-rank picks over
    ``running_counts`` (smallest value whose running count reaches
    ceil(p/100*n), pure-integer predicate 100*cw >= p*n);
    the clamped sum is evaluated on the COLLAPSED (flag, value, cnt)
    table — Σ cnt·clamp(pc) — so both the thresholds and the sum reuse
    one flag partitioning and the corpus is read once.  Exact int64 end
    to end; the only double is the final mean division, snapped to 4
    (+0 clears -0.0).  Overflow budget: Σ cnt·pc ≤ n·max_cents ~ 1e7
    cents · 6e9 rows (sf1000) = 6e16 < 2^63.  Shuffle shape: one
    map-side-combined (flag, pc) groupBy, one flag window, and a
    |flags|-row threshold join-back that AQE broadcasts (unhinted —
    the r10 hint rule; it is flag-cardinality, provably tiny here but
    the rule is uniform)."""
    cum = running_counts(flag_cents(spark, sf_dir), "flag", "pc")
    cum = cum.localCheckpoint(eager=True)  # consumed twice (thresholds + sum)
    thr = (
        cum.groupBy("flag", "n")
        .agg(
            F.min(
                F.when(100 * F.col("cw") >= 10 * F.col("n"), F.col("pc"))
            ).alias("lo"),
            F.min(
                F.when(100 * F.col("cw") >= 90 * F.col("n"), F.col("pc"))
            ).alias("hi"),
        )
    )
    clamped = cum.select("flag", "pc", "cnt").join(thr, "flag").select(
        "flag", "n", "lo", "hi",
        (
            F.col("cnt")
            * F.when(F.col("pc") < F.col("lo"), F.col("lo"))
            .when(F.col("pc") > F.col("hi"), F.col("hi"))
            .otherwise(F.col("pc"))
        ).alias("term"),
    )
    return (
        clamped.groupBy("flag", "n", "lo", "hi")
        .agg(F.sum("term").alias("wsum"))
        .select(
            "flag",
            F.col("n").alias("n_rows"),
            F.col("lo").alias("lo_cents"),
            F.col("hi").alias("hi_cents"),
            (
                F.expr(
                    snap_sql(
                        "CAST(wsum AS DOUBLE) / CAST(n AS DOUBLE)", 4
                    )
                )
                + F.lit(0.0)
            ).alias("wmean_cents"),
        )
    )


# Wald–Wolfowitz runs test: R, n1, n2 are exact int64; mu/sigma/z are
# ONE shared double tree where every cast starts from an int64-exact
# value (the round-8 rule: the 2·n1·n2 product is formed in DOUBLE, so
# there is no int64 product cliff).  sigma ~ sqrt(n)/2 stays below the
# snap-8 magnitude cliff (9.2e10) until ~3e22 rows/user.
_RUNS_P = "(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
_RUNS_MU = f"(1.0 + {_RUNS_P} / CAST(n AS DOUBLE))"
_RUNS_SIG = snap_sql(
    f"sqrt(({_RUNS_P} * ({_RUNS_P} - CAST(n AS DOUBLE)))"
    f" / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    f" * (CAST(n AS DOUBLE) - 1.0)))", 8
)
_RUNS_Z = snap_sql(
    f"(CAST(runs AS DOUBLE) - {_RUNS_MU}) / ({_RUNS_SIG})", 4
)


@query(
    "agg_runs_test",
    oracle=f"""
    WITH base AS (
        SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
              AND event_id IS NOT NULL AND event_type IS NOT NULL
    ),
    lagged AS (
        SELECT user_id, x,
               LAG(x) OVER (PARTITION BY user_id
                            ORDER BY us, event_id, event_type) AS prev
        FROM base
    ),
    g AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS n1,
               CAST(COUNT(*) - SUM(x) AS BIGINT) AS n2,
               CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND x <> prev
                                 THEN 1 ELSE 0 END) AS BIGINT) AS runs
        FROM lagged GROUP BY user_id
    )
    SELECT user_id, n AS n_rows, n1 AS n_pos, runs,
           {_RUNS_Z} + 0 AS z
    FROM g
    WHERE n1 >= 1 AND n2 >= 1
          AND 2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
              > CAST(n AS DOUBLE)
    """,
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of each user's
    purchase / non-purchase event sequence: R = 1 + #sign-changes, and
    z = (R − μ)/σ with μ = 1 + 2n₁n₂/n and
    σ² = 2n₁n₂(2n₁n₂ − n)/(n²(n − 1)) — the is-this-user's-behavior-
    bursty diagnostic a curation dashboard runs next to ts_autocorr.
    R, n₁, n₂ are EXACT int64 (a lag compare summed per user); the
    2n₁n₂ product is formed in DOUBLE from int64-exact casts (round-8:
    never multiply int64 counts into int64 products), μ/σ/z are one
    double tree shared verbatim with the oracle (sqrt snapped to 8,
    z to 4, +0 clears -0.0).  Degenerate sequences (single class, or
    n₁ = n₂ = 1 where σ = 0) are excluded by the same predicate on
    BOTH sides.  Total order (us, event_id, event_type) pins the lag
    pairing on duplicate-id rolls — rows tying on all three keys carry
    the same classification, so swap order cannot change R.  ONE
    user-keyed exchange shared by the lag window and the groupBy."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_id").isNotNull()
        & F.col("event_type").isNotNull()
    ).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id", "event_type")
    lagged = ev.select("user_id", "x", F.lag("x").over(w).alias("prev"))
    g = lagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("n1"),
        (F.count(F.lit(1)) - F.sum("x")).alias("n2"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("x") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        ).alias("runs"),
    )
    return g.where(
        (F.col("n1") >= 1)
        & (F.col("n2") >= 1)
        & (
            2.0 * F.col("n1").cast("double") * F.col("n2").cast("double")
            > F.col("n").cast("double")
        )
    ).select(
        "user_id",
        F.col("n").alias("n_rows"),
        F.col("n1").alias("n_pos"),
        "runs",
        (F.expr(_RUNS_Z) + F.lit(0.0)).alias("z"),
    )


@query(
    "agg_iqr_outliers",
    oracle="""
    WITH base AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    ),
    per AS (
        SELECT flag, pc, CAST(count(*) AS BIGINT) AS cnt
        FROM base GROUP BY flag, pc
    ),
    cum AS (
        SELECT flag, pc, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY flag
                                   ORDER BY pc) AS BIGINT) AS cw,
               CAST(SUM(cnt) OVER (PARTITION BY flag)
                    AS BIGINT) AS n
        FROM per
    ),
    q AS (
        SELECT flag, n,
               MIN(CASE WHEN 4 * cw >= n THEN pc END) AS q1,
               MIN(CASE WHEN 4 * cw >= 3 * n THEN pc END) AS q3
        FROM cum GROUP BY flag, n
    ),
    census AS (
        SELECT p.flag, q.n, q.q1, q.q3,
               CAST(SUM(CASE WHEN 2 * p.pc < 2 * q.q1 - 3 * (q.q3 - q.q1)
                             THEN p.cnt ELSE 0 END) AS BIGINT) AS n_low,
               CAST(SUM(CASE WHEN 2 * p.pc > 2 * q.q3 + 3 * (q.q3 - q.q1)
                             THEN p.cnt ELSE 0 END) AS BIGINT) AS n_high
        FROM per p JOIN q ON q.flag = p.flag
        GROUP BY p.flag, q.n, q.q1, q.q3
    )
    SELECT flag, n AS n_rows, q1 AS q1_cents, q3 AS q3_cents,
           n_low, n_high
    FROM census
    """,
)
def agg_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census per return flag — the boxplot rule
    (beyond q1 − 1.5·IQR / q3 + 1.5·IQR) that data-quality dashboards
    run before trusting a mean.  ZERO floating point anywhere: exact
    lower quartiles via the integer-rank predicate (4·cw ≥ n /
    4·cw ≥ 3n over ``running_counts``), and the
    half-unit fence compare doubles both sides — 2·pc vs 2·q1 − 3·IQR
    — so the 1.5 factor never leaves int64 (the agg_ks_test
    cross-multiplication discipline).  The census evaluates on the
    COLLAPSED (flag, value, cnt) table (Σ cnt·predicate), so the
    corpus is read once and shuffles once.  Shuffle shape: one
    map-side-combined (flag, pc) groupBy, one flag window, and a
    |flags|-row quartile join-back that AQE broadcasts (unhinted —
    the r10 hint rule).  Overflow: 2·pc ≤ 2e7, 2q1+3·IQR ≤ 1e8 —
    nowhere near the cliff."""
    cum = running_counts(flag_cents(spark, sf_dir), "flag", "pc")
    cum = cum.localCheckpoint(eager=True)  # consumed twice (quartiles + census)
    q = cum.groupBy("flag", "n").agg(
        F.min(
            F.when(4 * F.col("cw") >= F.col("n"), F.col("pc"))
        ).alias("q1"),
        F.min(
            F.when(4 * F.col("cw") >= 3 * F.col("n"), F.col("pc"))
        ).alias("q3"),
    )
    census = (
        cum.select("flag", "pc", "cnt")
        .join(q, "flag")
        .groupBy("flag", "n", "q1", "q3")
        .agg(
            F.sum(
                F.when(
                    2 * F.col("pc")
                    < 2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1")),
                    F.col("cnt"),
                ).otherwise(0)
            ).alias("n_low"),
            F.sum(
                F.when(
                    2 * F.col("pc")
                    > 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1")),
                    F.col("cnt"),
                ).otherwise(0)
            ).alias("n_high"),
        )
    )
    return census.select(
        "flag",
        F.col("n").alias("n_rows"),
        F.col("q1").alias("q1_cents"),
        F.col("q3").alias("q3_cents"),
        "n_low",
        "n_high",
    )


# Wilcoxon signed-rank z from exact integers: w2 = 2W+ via the
# 2·midrank = 2·|smaller| + ties + 1 identity (always integer), and
# 16·variance = (2n(n+1)(2n+1) − Σ(t³−t)) / 3 — so
# z = (2·w2 − n(n+1)) / sqrt((2n(n+1)(2n+1) − tsum) / 3), one double
# tree whose casts start from exact sums (sqrt snap 8, z snap 4).
_WSR_DEN = snap_sql(
    "sqrt((2.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)"
    " * (2.0 * CAST(n AS DOUBLE) + 1.0) - CAST(tsum AS DOUBLE)) / 3.0)", 8
)
_WSR_Z = snap_sql(
    f"(2.0 * CAST(w2 AS DOUBLE)"
    f" - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) / ({_WSR_DEN})", 4
)


@query(
    "agg_wilcoxon_signed_rank",
    oracle=f"""
    WITH base AS (
        SELECT user_id, epoch_us(ts) AS us, event_id,
               CAST(round(value * 100, 0) AS BIGINT) AS vc
        FROM events
        WHERE event_type = 'purchase' AND ts IS NOT NULL
              AND value IS NOT NULL AND user_id IS NOT NULL
              AND event_id IS NOT NULL
    ),
    diffs AS (
        SELECT user_id,
               vc - LAG(vc) OVER (PARTITION BY user_id
                                  ORDER BY us, event_id, vc) AS d
        FROM base
    ),
    nz AS (
        SELECT user_id, abs(d) AS ad, (d > 0) AS pos
        FROM diffs WHERE d IS NOT NULL AND d <> 0
    ),
    per AS (
        SELECT user_id, ad, CAST(count(*) AS BIGINT) AS cnt,
               CAST(count(*) FILTER (pos) AS BIGINT) AS cntp
        FROM nz GROUP BY user_id, ad
    ),
    cum AS (
        SELECT user_id, ad, cnt, cntp,
               CAST(COALESCE(SUM(cnt) OVER (PARTITION BY user_id
                        ORDER BY ad
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS less
        FROM per
    ),
    g AS (
        SELECT user_id,
               CAST(SUM(CAST(cntp AS HUGEINT)
                        * (2 * less + cnt + 1)) AS BIGINT) AS w2,
               CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt)
                    AS BIGINT) AS tsum
        FROM cum GROUP BY user_id
    )
    SELECT user_id, n AS n_pairs, w2, {_WSR_Z} + 0 AS z
    FROM g WHERE n >= 2
    """,
)
def agg_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on each user's consecutive purchase
    differences — the nonparametric is-spend-drifting test (paired
    companion to agg_mannwhitney's two-sample U): zero differences
    dropped (the textbook convention, same predicate both sides),
    |d| midranks via 2·midrank = 2·|smaller| + ties + 1 (always
    integer), so w2 = 2W⁺ = Σ 2·midrank over positive differences is
    EXACT, as is the tie sum Σ(t³−t); z evaluates
    (2w2 − n(n+1)) / sqrt((2n(n+1)(2n+1) − tsum)/3) in ONE shared
    double tree (sqrt snap 8, z snap 4, +0).  Signed-rank variance
    can never be tie-killed (all-tied gives 3n(n+1)² > 0), so the
    only guard is n ≥ 2.  Internal rank/tie sums go DECIMAL(38,0)/
    HUGEINT (the agg_stats pattern); exposed w2 ≤ n(n+1) binds the
    BIGINT output at ~3e9 pairs/user, tsum's double cast is
    snap-absorbed past its 2^63 crossing (~2.1e6 tied pairs at one
    value — the ADVICE r8 1-ulp seam note).  Shuffle shape: raw
    events shuffle ONCE (user lag window); the (user,|d|) collapse
    and the per-user midrank window exchange only collapsed
    |user × distinct-|d|| partial rows."""
    ev = load_table(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_id").isNotNull()
    ).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        money_units(F.col("value"), 2).alias("vc"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id", "vc")
    diffs = ev.select(
        "user_id", (F.col("vc") - F.lag("vc").over(w)).alias("d")
    )
    nz = diffs.where(F.col("d").isNotNull() & (F.col("d") != 0)).select(
        "user_id", F.abs("d").alias("ad"), (F.col("d") > 0).alias("pos")
    )
    per = nz.groupBy("user_id", "ad").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("long")
        .alias("cntp"),
    )
    cum = running_counts(per, "user_id", "ad")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = cum.groupBy("user_id").agg(
        F.sum(dec(F.col("cntp")) * (2 * F.col("cw") - F.col("cnt") + 1))
        .cast("long")
        .alias("w2"),
        F.sum("cnt").alias("n"),
        F.sum(dec(F.col("cnt")) * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tsum"),
    )
    return g.where(F.col("n") >= 2).select(
        "user_id",
        F.col("n").alias("n_pairs"),
        "w2",
        (F.expr(_WSR_Z) + F.lit(0.0)).alias("z"),
    )
