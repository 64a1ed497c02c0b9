"""Round-11 robust-location / variance-homogeneity statistics.

Nothing like these exists in the reference (SURVEY.md §2.2: the only
arithmetic there is split-offset math); they round out the statistical
surface next to stats_extras/pivot_stats: trimmed and geometric means
(robust/ multiplicative location), Bowley's quartile skewness (a pure
integer-fraction shape statistic), and the two classical
variance-homogeneity tests a pipeline runs before trusting an ANOVA —
Bartlett (normal-theory) and Brown–Forsythe (median-centered Levene).

Determinism recipes (CLAUDE.md rounds 5–8):
  * inputs floor/round to exact int64 units (dollars for anything
    squared — the agg_cohens_d overflow budget; cents where linear);
  * quartiles/medians are integer-rank picks over the per-value
    collapse's ``functions.num.running_counts`` — no interpolation;
    the collapsed revenue-cents input is ``stats_extras.flag_cents``;
  * the |groups| dimension is PIVOTED into one row by conditional
    aggregation over the fixed TPC-H flag domain (the agg_cohens_d
    shape), so every cross-group combination is ONE explicitly
    parenthesized double tree shared verbatim with the oracle — there
    is no cross-row double sum whose merge order an engine could pick;
  * transcendentals (ln) snap to 8 before further math; ln sums that
    must cross rows go EXACT via integer ln-units (the agg_mutual_info
    ``floor(ln(x)*1e8+0.5)`` trick); final statistics snap to 4 with
    ``+ 0`` clearing IEEE -0.0.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hadoop_fixedlengthinputformat_spark.functions.num import (
    money_units,
    running_counts,
    snap_sql,
)
from hadoop_fixedlengthinputformat_spark.operators.stats_extras import (
    flag_cents,
)
from hadoop_fixedlengthinputformat_spark.registry import query
from hadoop_fixedlengthinputformat_spark.tables import load_table


@query(
    "agg_trimmed_mean",
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
    kept AS (
        SELECT flag, n, n // 10 AS k,
               CAST(SUM(pc * greatest(
                   least(cw, n - n // 10)
                   - greatest(cw - cnt, n // 10), 0)) AS BIGINT) AS tsum
        FROM cum GROUP BY flag, n
    )
    SELECT flag, n AS n_rows, k AS n_trim_each_side,
           floor(CAST(tsum AS DOUBLE) / CAST(n - 2 * k AS DOUBLE)
                 * 10000 + 0.5) / 10000 + 0 AS tmean_cents
    FROM kept WHERE n - 2 * k > 0
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-two-sided trimmed mean of revenue cents per return flag —
    the robust-location sibling of agg_winsorized_mean: instead of
    clamping, the lowest and highest k = n//10 observations are
    DROPPED and the mean is taken over the middle n − 2k.  On the
    collapsed (flag, value, cnt) table each distinct value contributes
    kept = max(0, min(cw, n−k) − max(cw−cnt, k)) rows — a pure integer
    overlap of its running-count interval (cw−cnt, cw] with the kept
    rank band (k, n−k] — so the trimmed sum Σ pc·kept is exact int64
    and the only double is the final division, snapped to 4 (+0).
    Overflow budget: Σ pc·kept ≤ n·max_cents = 6e16 at sf1000.
    Shuffle shape: one map-side-combined (flag, pc) groupBy and one
    flag-partitioned running window — identical to the winsorized
    plan; the corpus is read once."""
    cum = running_counts(flag_cents(spark, sf_dir), "flag", "pc")
    k = F.floor(F.col("n") / 10).cast("long")
    kept_cnt = F.greatest(
        F.least(F.col("cw"), F.col("n") - k)
        - F.greatest(F.col("cw") - F.col("cnt"), k),
        F.lit(0).cast("long"),
    )
    kept = (
        cum.select("flag", "n", k.alias("k"), (F.col("pc") * kept_cnt).alias("term"))
        .groupBy("flag", "n", "k")
        .agg(F.sum("term").alias("tsum"))
    )
    return kept.where(F.col("n") - 2 * F.col("k") > 0).select(
        "flag",
        F.col("n").alias("n_rows"),
        F.col("k").alias("n_trim_each_side"),
        (
            F.expr(
                snap_sql(
                    "CAST(tsum AS DOUBLE) / CAST(n - 2 * k AS DOUBLE)", 4
                )
            )
            + F.lit(0.0)
        ).alias("tmean_cents"),
    )


_LN8_INT = "CAST(floor(ln(CAST({v} AS DOUBLE)) * 100000000.0 + 0.5) AS BIGINT)"
_GM = snap_sql(
    "exp(CAST(slp AS DOUBLE) / (CAST(n AS DOUBLE) * 100000000.0))", 4
)


@query(
    "agg_geometric_mean",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
              AND l_extendedprice > 0
    ),
    per AS (
        SELECT flag, pc, CAST(count(*) AS BIGINT) AS cnt
        FROM base GROUP BY flag, pc
    ),
    s AS (
        SELECT flag, CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(cnt * {_LN8_INT.format(v='pc')}) AS BIGINT) AS slp
        FROM per GROUP BY flag
    )
    SELECT flag, n AS n_rows, slp AS ln_sum_e8,
           {_GM} + 0 AS gmean_cents
    FROM s
    """,
)
def agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean of (positive) revenue cents per return flag —
    the multiplicative location statistic (log-average) a pipeline
    uses over ratio-like quantities.  The product goes exact via
    integer ln-units (the ts_survival_km / agg_mutual_info trick):
    each DISTINCT cent value pays one transcendental, snapped straight
    to int64 ln-units (floor(ln(pc)·1e8 + 0.5)), and the corpus sum
    Σ cnt·ln8(pc) is an exact merge-order-free int64 (budget:
    ln(1e7)·1e8 ≈ 1.6e9 per row → int64-safe to ~5e9 rows; re-unit
    beyond).  The exact ln-sum is EXPOSED as ln_sum_e8 (the primary,
    float-free result); the convenience gmean exponentiates one
    identical double both sides and snaps to 4 (+0) — exp, like ln
    here and sqrt elsewhere, is a libm call on an identical IEEE
    input, and the snap absorbs its sub-ulp spread.  Shuffle shape:
    one (flag, pc) map-side-combined collapse, then a |flags|-row
    aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.where(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_returnflag").isNotNull()
        & (F.col("l_extendedprice") > 0)
    ).select(
        F.col("l_returnflag").alias("flag"),
        money_units(F.col("l_extendedprice"), 2).alias("pc"),
    )
    per = base.groupBy("flag", "pc").agg(F.count(F.lit(1)).alias("cnt"))
    ln8 = F.floor(
        F.log(F.col("pc").cast("double")) * 100000000.0 + 0.5
    ).cast("long")
    s = per.groupBy("flag").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * ln8).alias("slp"),
    )
    return s.select(
        "flag",
        F.col("n").alias("n_rows"),
        F.col("slp").alias("ln_sum_e8"),
        (F.expr(_GM) + F.lit(0.0)).alias("gmean_cents"),
    )


_BOWLEY = snap_sql(
    "CAST(q3 + q1 - 2 * q2 AS DOUBLE) / CAST(q3 - q1 AS DOUBLE)", 4
)


@query(
    "agg_bowley_skew",
    oracle=f"""
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
    ),
    q AS (
        SELECT flag, n,
               MIN(CASE WHEN 100 * cw >= 25 * n THEN pc END) AS q1,
               MIN(CASE WHEN 100 * cw >= 50 * n THEN pc END) AS q2,
               MIN(CASE WHEN 100 * cw >= 75 * n THEN pc END) AS q3
        FROM cum GROUP BY flag, n
    )
    SELECT flag, n AS n_rows, q1 AS q1_cents, q2 AS q2_cents,
           q3 AS q3_cents,
           CAST(q3 + q1 - 2 * q2 AS BIGINT) AS skew_num,
           CAST(q3 - q1 AS BIGINT) AS skew_den,
           {_BOWLEY} + 0 AS bowley
    FROM q WHERE q3 - q1 > 0
    """,
)
def agg_bowley_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley's quartile skewness (q3 + q1 − 2·q2)/(q3 − q1) of revenue
    cents per return flag — the robust shape statistic built entirely
    from exact integer-rank quartiles over ``running_counts``
    (smallest value whose running count reaches ceil(p·n/100), pure
    integer predicate 100·cw ≥ p·n).  Numerator and denominator are
    EXPOSED as exact BIGINTs (the agg_cohen_kappa integer-fraction
    convention — zero floating point in the primary result); the
    convenience ratio is one snapped division.  Degenerate groups
    (q1 = q3, i.e. ≥ half the mass on one value) emit no row — the
    statistic is undefined there, gated identically both sides.
    Shuffle shape: one (flag, pc) collapse + one flag window; corpus
    read once."""
    cum = running_counts(flag_cents(spark, sf_dir), "flag", "pc")

    def pick(p: int, name: str):
        return F.min(
            F.when(100 * F.col("cw") >= p * F.col("n"), F.col("pc"))
        ).alias(name)

    q = cum.groupBy("flag", "n").agg(pick(25, "q1"), pick(50, "q2"), pick(75, "q3"))
    return q.where(F.col("q3") - F.col("q1") > 0).select(
        "flag",
        F.col("n").alias("n_rows"),
        F.col("q1").alias("q1_cents"),
        F.col("q2").alias("q2_cents"),
        F.col("q3").alias("q3_cents"),
        (F.col("q3") + F.col("q1") - 2 * F.col("q2")).alias("skew_num"),
        (F.col("q3") - F.col("q1")).alias("skew_den"),
        (F.expr(_BOWLEY) + F.lit(0.0)).alias("bowley"),
    )


# ---------------------------------------------------------------------------
# Variance-homogeneity tests over the fixed flag domain {A, N, R},
# pivoted to ONE row so every cross-group term sits in one explicitly
# parenthesized double tree (no cross-row double sums anywhere).
# Inputs are DOLLARS (floor) because both tests square them: ss_g <=
# n*max_dollars^2 = 6e16 at sf1000 (the agg_cohens_d budget).

_BT_V = {
    f: f"(CAST(n{f} AS DOUBLE) * ss{f} - CAST(s{f} AS DOUBLE) * s{f})"
    for f in ("a", "n", "r")
}
_BT_S2 = {
    f: f"({_BT_V[f]} / (CAST(n{f} AS DOUBLE) * (CAST(n{f} AS DOUBLE) - 1.0)))"
    for f in ("a", "n", "r")
}
_BT_NTOT = "(CAST(na AS DOUBLE) + CAST(nn AS DOUBLE) + CAST(nr AS DOUBLE))"
_BT_SP2 = (
    f"((({_BT_V['a']} / CAST(na AS DOUBLE))"
    f" + ({_BT_V['n']} / CAST(nn AS DOUBLE))"
    f" + ({_BT_V['r']} / CAST(nr AS DOUBLE)))"
    f" / ({_BT_NTOT} - 3.0))"
)
_BT_LN_SP2 = snap_sql(f"ln({_BT_SP2})", 8)
_BT_LN_A = snap_sql("ln(" + _BT_S2["a"] + ")", 8)
_BT_LN_N = snap_sql("ln(" + _BT_S2["n"] + ")", 8)
_BT_LN_R = snap_sql("ln(" + _BT_S2["r"] + ")", 8)
_BT_M = (
    f"(({_BT_NTOT} - 3.0) * ({_BT_LN_SP2})"
    f" - ((CAST(na AS DOUBLE) - 1.0) * ({_BT_LN_A})"
    f" + (CAST(nn AS DOUBLE) - 1.0) * ({_BT_LN_N})"
    f" + (CAST(nr AS DOUBLE) - 1.0) * ({_BT_LN_R})))"
)
_BT_C = (
    "(1.0 + (((1.0 / (CAST(na AS DOUBLE) - 1.0))"
    " + (1.0 / (CAST(nn AS DOUBLE) - 1.0))"
    " + (1.0 / (CAST(nr AS DOUBLE) - 1.0))"
    f" - (1.0 / ({_BT_NTOT} - 3.0))) / 6.0))"
)
_BT_STAT = snap_sql(f"({_BT_M}) / ({_BT_C})", 4)


@query(
    "agg_bartlett",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag AS flag,
               CAST(floor(l_extendedprice) AS BIGINT) AS d
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL
              AND l_returnflag IN ('A', 'N', 'R')
    ),
    g AS (
        SELECT
          CAST(SUM(CASE WHEN flag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(SUM(CASE WHEN flag = 'A' THEN d ELSE 0 END) AS BIGINT) AS sa,
          CAST(SUM(CASE WHEN flag = 'A' THEN d * d ELSE 0 END) AS BIGINT) AS ssa,
          CAST(SUM(CASE WHEN flag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS nn,
          CAST(SUM(CASE WHEN flag = 'N' THEN d ELSE 0 END) AS BIGINT) AS sn,
          CAST(SUM(CASE WHEN flag = 'N' THEN d * d ELSE 0 END) AS BIGINT) AS ssn,
          CAST(SUM(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS nr,
          CAST(SUM(CASE WHEN flag = 'R' THEN d ELSE 0 END) AS BIGINT) AS sr,
          CAST(SUM(CASE WHEN flag = 'R' THEN d * d ELSE 0 END) AS BIGINT) AS ssr
        FROM base
    )
    SELECT CAST(na + nn + nr AS BIGINT) AS n_rows,
           na AS n_a, nn AS n_n, nr AS n_r,
           {_BT_STAT} + 0 AS bartlett_stat,
           2 AS df
    FROM g
    WHERE na > 1 AND nn > 1 AND nr > 1
      AND {_BT_V['a']} > 0 AND {_BT_V['n']} > 0 AND {_BT_V['r']} > 0
    """,
)
def agg_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for equal variances of extended price (whole
    dollars) across the three return-flag groups — the normal-theory
    variance-homogeneity check run before a pooled-variance ANOVA.
    One conditional-aggregate pass pivots the fixed flag domain
    {A, N, R} into a single row of exact int64 (n, Σd, Σd²) per group
    (the agg_cohens_d shape — map-side combined, 1-row exchange);
    every group variance v_g = n·S₂ − S₁² is then formed in DOUBLE
    (the _corr_expr rule: the SUMS carry the overflow budget, never
    the products) and the statistic M/C is ONE explicitly
    parenthesized double tree shared verbatim with the oracle, each
    ln snapped to 8 before further math, final snap 4 (+0).
    Degenerate inputs (any group with n ≤ 1 or zero variance — ln
    undefined) emit no row, gated identically both sides.  Overflow
    budget: Σd² ≤ 6e16 at sf1000 (dollars, the agg_cohens_d unit
    choice)."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.where(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_returnflag").isin("A", "N", "R")
    ).select(
        F.col("l_returnflag").alias("flag"),
        F.floor("l_extendedprice").cast("long").alias("d"),
    )
    x = F.col("d")

    def side(flag: str, expr, name: str):
        return F.sum(
            F.when(F.col("flag") == flag, expr).otherwise(F.lit(0))
        ).alias(name)

    def cnt(flag: str, name: str):
        return F.sum(
            F.when(F.col("flag") == flag, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias(name)

    g = base.agg(
        cnt("A", "na"), side("A", x, "sa"), side("A", x * x, "ssa"),
        cnt("N", "nn"), side("N", x, "sn"), side("N", x * x, "ssn"),
        cnt("R", "nr"), side("R", x, "sr"), side("R", x * x, "ssr"),
    )
    return g.where(
        (F.col("na") > 1) & (F.col("nn") > 1) & (F.col("nr") > 1)
        & (F.expr(_BT_V["a"]) > 0)
        & (F.expr(_BT_V["n"]) > 0)
        & (F.expr(_BT_V["r"]) > 0)
    ).select(
        (F.col("na") + F.col("nn") + F.col("nr")).alias("n_rows"),
        F.col("na").alias("n_a"),
        F.col("nn").alias("n_n"),
        F.col("nr").alias("n_r"),
        (F.expr(_BT_STAT) + F.lit(0.0)).alias("bartlett_stat"),
        F.lit(2).alias("df"),
    )


_BF_BG = (
    "((CAST(sa AS DOUBLE) * sa / CAST(na AS DOUBLE))"
    " + (CAST(sn AS DOUBLE) * sn / CAST(nn AS DOUBLE))"
    " + (CAST(sr AS DOUBLE) * sr / CAST(nr AS DOUBLE)))"
)
_BF_S = "(CAST(sa AS DOUBLE) + CAST(sn AS DOUBLE) + CAST(sr AS DOUBLE))"
_BF_SS = "(CAST(ssa AS DOUBLE) + CAST(ssn AS DOUBLE) + CAST(ssr AS DOUBLE))"
_BF_NTOT = "(CAST(na AS DOUBLE) + CAST(nn AS DOUBLE) + CAST(nr AS DOUBLE))"
_BF_NUM = f"({_BF_BG} - ({_BF_S} * {_BF_S} / {_BF_NTOT}))"
_BF_DEN = f"({_BF_SS} - {_BF_BG})"
_BF_STAT = snap_sql(
    f"(({_BF_NUM}) / 2.0) / (({_BF_DEN}) / ({_BF_NTOT} - 3.0))", 4
)


@query(
    "agg_brown_forsythe",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag AS flag,
               CAST(floor(l_extendedprice) AS BIGINT) AS d
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL
              AND l_returnflag IN ('A', 'N', 'R')
    ),
    per AS (
        SELECT flag, d, CAST(count(*) AS BIGINT) AS cnt
        FROM base GROUP BY flag, d
    ),
    cum AS (
        SELECT flag, d,
               CAST(SUM(cnt) OVER (PARTITION BY flag
                                   ORDER BY d) AS BIGINT) AS cw,
               CAST(SUM(cnt) OVER (PARTITION BY flag)
                    AS BIGINT) AS n
        FROM per
    ),
    med AS (
        SELECT flag, MIN(CASE WHEN 2 * cw >= n THEN d END) AS md
        FROM cum GROUP BY flag
    ),
    z AS (
        SELECT b.flag, abs(b.d - m.md) AS z
        FROM base b JOIN med m ON m.flag = b.flag
    ),
    g AS (
        SELECT
          CAST(SUM(CASE WHEN flag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(SUM(CASE WHEN flag = 'A' THEN z ELSE 0 END) AS BIGINT) AS sa,
          CAST(SUM(CASE WHEN flag = 'A' THEN z * z ELSE 0 END) AS BIGINT) AS ssa,
          CAST(SUM(CASE WHEN flag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS nn,
          CAST(SUM(CASE WHEN flag = 'N' THEN z ELSE 0 END) AS BIGINT) AS sn,
          CAST(SUM(CASE WHEN flag = 'N' THEN z * z ELSE 0 END) AS BIGINT) AS ssn,
          CAST(SUM(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS nr,
          CAST(SUM(CASE WHEN flag = 'R' THEN z ELSE 0 END) AS BIGINT) AS sr,
          CAST(SUM(CASE WHEN flag = 'R' THEN z * z ELSE 0 END) AS BIGINT) AS ssr
        FROM z
    )
    SELECT CAST(na + nn + nr AS BIGINT) AS n_rows,
           na AS n_a, nn AS n_n, nr AS n_r,
           {_BF_STAT} + 0 AS bf_stat
    FROM g
    WHERE na > 1 AND nn > 1 AND nr > 1 AND {_BF_DEN} > 0
    """,
)
def agg_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (median-centered Levene) for equal spread
    of extended price (whole dollars) across the return-flag groups —
    the robust variance-homogeneity companion to agg_bartlett (and to
    the mean-centered agg_levene), preferred when normality is in
    doubt.  Three exact stages: (1) per-group LOWER MEDIAN from the
    per-value collapse over ``running_counts`` (integer predicate
    2·cw ≥ n); (2) absolute deviations
    z = |d − med| as exact int64 (a |flags|-row join-back AQE handles
    unhinted); (3) the one-way ANOVA F on z from one pivoted
    conditional-aggregate row of exact (n, Σz, Σz²) per group, the
    between/within split evaluated in ONE explicitly parenthesized
    double tree shared with the oracle (snap 4, +0).  No cross-row
    double sums anywhere.  Degenerate inputs (any group n ≤ 1, or zero
    within-group spread) emit no row both sides.  Overflow: Σz² ≤
    6e16 at sf1000 (dollar units).  Corpus is read twice (median pass
    + deviation pass) — inherent to median centering, same trade as
    ts_mad_outliers, documented there."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.where(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_returnflag").isin("A", "N", "R")
    ).select(
        F.col("l_returnflag").alias("flag"),
        F.floor("l_extendedprice").cast("long").alias("d"),
    )
    per = base.groupBy("flag", "d").agg(F.count(F.lit(1)).alias("cnt"))
    med = running_counts(per, "flag", "d").groupBy("flag").agg(
        F.min(
            F.when(2 * F.col("cw") >= F.col("n"), F.col("d"))
        ).alias("md")
    )
    z = base.join(med, "flag").select(
        "flag", F.abs(F.col("d") - F.col("md")).alias("z")
    )
    x = F.col("z")

    def side(flag: str, expr, name: str):
        return F.sum(
            F.when(F.col("flag") == flag, expr).otherwise(F.lit(0))
        ).alias(name)

    def cnt(flag: str, name: str):
        return F.sum(
            F.when(F.col("flag") == flag, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias(name)

    g = z.agg(
        cnt("A", "na"), side("A", x, "sa"), side("A", x * x, "ssa"),
        cnt("N", "nn"), side("N", x, "sn"), side("N", x * x, "ssn"),
        cnt("R", "nr"), side("R", x, "sr"), side("R", x * x, "ssr"),
    )
    return g.where(
        (F.col("na") > 1) & (F.col("nn") > 1) & (F.col("nr") > 1)
        & (F.expr(_BF_DEN) > 0)
    ).select(
        (F.col("na") + F.col("nn") + F.col("nr")).alias("n_rows"),
        F.col("na").alias("n_a"),
        F.col("nn").alias("n_n"),
        F.col("nr").alias("n_r"),
        (F.expr(_BF_STAT) + F.lit(0.0)).alias("bf_stat"),
    )


_CV_SD = snap_sql(
    "sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)"
    " / (CAST(n AS DOUBLE) * n))",
    8,
)
_CV = snap_sql(
    f"({_CV_SD}) / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))", 4
)


@query(
    "agg_coeff_variation",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag AS flag,
               CAST(floor(l_extendedprice) AS BIGINT) AS d
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    ),
    g AS (
        SELECT flag, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(d) AS BIGINT) AS s1,
               CAST(SUM(d * d) AS BIGINT) AS s2
        FROM base GROUP BY flag
    )
    SELECT flag, n AS n_rows, s1 AS sum_dollars, s2 AS sumsq_dollars,
           {_CV} + 0 AS cv
    FROM g WHERE n > 1 AND s1 > 0
    """,
)
def agg_coeff_variation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coefficient of variation (sd/mean, population sd) of extended
    price per return flag — the unit-free dispersion number a DQ
    dashboard tracks per segment.  Exact int64 (n, Σd, Σd²) in whole
    dollars (the agg_cohens_d squared-unit budget: Σd² ≤ 6e16 at
    sf1000); the variance term n·S₂−S₁² is formed in DOUBLE
    (_corr_expr rule), sd snaps to 8 before the division, cv to 4
    (+0).  The exact sums are EXPOSED.  Gates: n>1 and S₁>0 (cv is
    undefined at mean 0; prices are positive so this only excludes
    degenerate rolls) — identical both sides.  ONE map-side-combined
    groupBy, |flags| rows out."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.where(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_returnflag").isNotNull()
    ).select(
        F.col("l_returnflag").alias("flag"),
        F.floor("l_extendedprice").cast("long").alias("d"),
    )
    g = base.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("s1"),
        F.sum(F.col("d") * F.col("d")).alias("s2"),
    )
    return g.where((F.col("n") > 1) & (F.col("s1") > 0)).select(
        "flag",
        F.col("n").alias("n_rows"),
        F.col("s1").alias("sum_dollars"),
        F.col("s2").alias("sumsq_dollars"),
        (F.expr(_CV) + F.lit(0.0)).alias("cv"),
    )
