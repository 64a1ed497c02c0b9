"""D+/F+ families — pivot/unpivot reshaping and statistical aggregates.

None of these exist in the reference (SURVEY.md §2.2: the only
arithmetic is offset math); they complete the aggregation surface a
consumer of the ingested data expects.

Scale notes:
  * ``pivot`` is given its value list explicitly — without it Spark runs
    an extra distinct pass over the data to discover pivot columns, which
    at 100 TB is a full scan you didn't ask for.  With the list, pivot is
    a single hash aggregate (one shuffle, map-side partial).
  * ``unpivot`` is a generate-style expansion (rows x measures) — no
    shuffle at all; it stays inside whole-stage codegen.
  * corr/covar/stddev are single-pass streaming moments (Welford-style
    partial aggregation), so they shuffle one partial-state row per
    partition — same O(groups) exchange as sum/count.
  * exact ``percentile`` requires a global sort-ish state per group; at
    100 TB prefer ``approx_percentile`` (t-digest sketch, mergeable,
    bounded memory) — both are declared, the exact one oracle-checked,
    the sketch rows-only with a tolerance test in tests/.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hadoop_fixedlengthinputformat_spark.functions.num import (
    money_units,
    running_counts,
    snap,
)
from hadoop_fixedlengthinputformat_spark.registry import query
from hadoop_fixedlengthinputformat_spark.tables import load_table

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@query(
    "pivot_segment",
    oracle="""
    SELECT c_nationkey,
           count(*) FILTER (c_mktsegment = 'AUTOMOBILE') AS automobile,
           count(*) FILTER (c_mktsegment = 'BUILDING')   AS building,
           count(*) FILTER (c_mktsegment = 'FURNITURE')  AS furniture,
           count(*) FILTER (c_mktsegment = 'HOUSEHOLD')  AS household,
           count(*) FILTER (c_mktsegment = 'MACHINERY')  AS machinery
    FROM customer
    GROUP BY c_nationkey
    """,
)
def pivot_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer count per (nation x market segment), segments as columns.

    Explicit value list ⇒ no discovery pass; lower-cased aliases keep the
    column names identical to the oracle's.
    """
    c = load_table(spark, sf_dir, "customer")
    piv = (
        c.groupBy("c_nationkey")
        .pivot("c_mktsegment", SEGMENTS)
        .agg(F.count(F.lit(1)))
    )
    cols = [F.col("c_nationkey")] + [
        F.coalesce(F.col(s), F.lit(0)).alias(s.lower()) for s in SEGMENTS
    ]
    return piv.select(*cols)


@query(
    "unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, round(val, 4) AS val
    FROM (
        SELECT l_orderkey, l_linenumber, 'qty' AS measure, l_quantity AS val
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    )
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt of three lineitem measures (Spark ``unpivot``)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity",
                  "l_extendedprice", "l_discount")
        .withColumnsRenamed(
            {"l_quantity": "qty", "l_extendedprice": "price",
             "l_discount": "discount"}
        )
        .unpivot(
            ids=["l_orderkey", "l_linenumber"],
            values=["qty", "price", "discount"],
            variableColumnName="measure",
            valueColumnName="raw_val",
        )
        .select(
            "l_orderkey", "l_linenumber", "measure",
            F.round("raw_val", 4).alias("val"),
        )
    )


@query(
    "agg_stats",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               count(*) AS n,
               sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS sx,
               sum(CAST(round(l_quantity * 100, 0) AS BIGINT)
                   * CAST(round(l_quantity * 100, 0) AS BIGINT)) AS sxx,
               sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS sy,
               sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                   * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS syy,
               sum(CAST(round(l_quantity * 100, 0) AS BIGINT)
                   * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS sxy,
               sum(CAST(round(l_discount * 10000, 0) AS BIGINT)) AS sd,
               sum(CAST(round(l_tax * 10000, 0) AS BIGINT)) AS st,
               sum(CAST(round(l_discount * 10000, 0) AS BIGINT)
                   * CAST(round(l_tax * 10000, 0) AS BIGINT)) AS sdt
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           floor(sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                      / (n * (n - 1)) / 10000.0) * 10000 + 0.5) / 10000
               AS sd_qty,
           floor(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)
                 / (n * (n - 1)) / 10000.0 * 100 + 0.5) / 100 AS var_price,
           floor(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
                 * 10000 + 0.5) / 10000 AS corr_qty_price,
           floor(CAST(n * sdt - CAST(sd AS HUGEINT) * st AS DOUBLE)
                 / (n * (n - 1)) / 100000000.0 * 1000000 + 0.5) / 1000000 + 0
               AS cov_disc_tax
    FROM m
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics from EXACT integer moment sums.

    Native stddev/var/corr/covar accumulate in floats with
    engine-specific merge orders; rounding those near a boundary is a
    coin flip.  The two-pass identities (n·Sxx − Sx²) etc. computed on
    cent/basis-point integer units are exact (no cancellation error at
    all — the subtraction is integer arithmetic), and the single
    convert-to-double + divide + sqrt pipeline is IEEE-identical across
    engines.  Still one pass, still map-side partials (9 sums); the
    DECIMAL(38) casts mirror DuckDB's automatic HUGEINT sums."""
    li = load_table(spark, sf_dir, "lineitem")
    xu = money_units(F.col("l_quantity"), 2)
    yu = money_units(F.col("l_extendedprice"), 2)
    du = money_units(F.col("l_discount"), 4)
    tu = money_units(F.col("l_tax"), 4)

    def dec(c):
        return c.cast("decimal(38,0)")

    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xu).alias("sx"),
        F.sum(dec(xu * xu)).alias("sxx"),
        F.sum(yu).alias("sy"),
        F.sum(dec(yu * yu)).alias("syy"),
        F.sum(dec(xu * yu)).alias("sxy"),
        F.sum(du).alias("sd"),
        F.sum(tu).alias("st"),
        F.sum(dec(du * tu)).alias("sdt"),
    )
    n = F.col("n")
    vx = (dec(n) * F.col("sxx") - dec(F.col("sx")) * dec(F.col("sx"))).cast(
        "double"
    )
    vy = (dec(n) * F.col("syy") - dec(F.col("sy")) * dec(F.col("sy"))).cast(
        "double"
    )
    cxy = (dec(n) * F.col("sxy") - dec(F.col("sx")) * dec(F.col("sy"))).cast(
        "double"
    )
    cdt = (dec(n) * F.col("sdt") - dec(F.col("sd")) * dec(F.col("st"))).cast(
        "double"
    )
    nn1 = n * (n - 1)
    return m.select(
        "l_returnflag",
        snap(F.sqrt(vx / nn1 / F.lit(10000.0)), 4).alias("sd_qty"),
        snap(vy / nn1 / F.lit(10000.0), 2).alias("var_price"),
        snap(cxy / (F.sqrt(vx) * F.sqrt(vy)), 4).alias("corr_qty_price"),
        (snap(cdt / nn1 / F.lit(100000000.0), 6) + F.lit(0.0)).alias(
            "cov_disc_tax"
        ),
    )


@query(
    "agg_mode",
    oracle="""
    WITH counts AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS cnt
        FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    r AS (
        SELECT c_nationkey, c_mktsegment, cnt,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY cnt DESC, c_mktsegment) AS rn
        FROM counts
    )
    SELECT c_nationkey, c_mktsegment AS mode_segment, cnt AS mode_count
    FROM r WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal value per group (most frequent segment per nation), with a
    DETERMINISTIC tie-break (highest count, then lexicographically
    smallest value).  Built as count + window-rank rather than the
    native mode() aggregate, whose tie winner is engine- and
    merge-order-dependent — mode ties WILL occur on some data roll.
    Scale shape: the first agg collapses to |nations x segments| rows
    map-side; the window ranks those tiny groups — raw rows shuffle
    once."""
    c = load_table(spark, sf_dir, "customer")
    counts = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("cnt").desc(), "c_mktsegment"
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_nationkey",
            F.col("c_mktsegment").alias("mode_segment"),
            F.col("cnt").alias("mode_count"),
        )
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS p25,
           round(quantile_cont(l_quantity, 0.50), 4) AS p50,
           round(quantile_cont(l_quantity, 0.75), 4) AS p75,
           round(median(l_extendedprice), 4) AS med_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``).  Exact percentile buffers the group's values —
    fine per-group; the 100 TB path is ``agg_approx_percentile``."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.25), 4).alias("p25"),
        F.round(F.percentile("l_quantity", 0.50), 4).alias("p50"),
        F.round(F.percentile("l_quantity", 0.75), 4).alias("p75"),
        F.round(F.median("l_extendedprice"), 4).alias("med_price"),
    )


@query(
    "agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.5) AS ap50,
           quantile_disc(l_extendedprice, 0.9) AS ap90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch percentile: mergeable, bounded memory — the percentile
    you actually run at 100 TB.

    Oracle-able (was rows-only; VERDICT r3 #5): the Greenwald-Khanna
    bound is rank error <= n/accuracy, so with accuracy 1e7 and test
    group sizes <= ~2e5 the permitted rank deviation is < 1 — the
    sketch DEGENERATES TO EXACT and returns precisely DuckDB's
    quantile_disc element (rank conventions verified identical on
    boundary cases n=4,5,7,10 x p=.1..9).  The sketch MACHINERY
    (mergeable partials, map-side combine) is what's exercised; a
    100 TB run lowers accuracy and accepts the documented rank bound."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile(
            "l_quantity", F.lit(0.5), F.lit(10_000_000)
        ).alias("ap50"),
        F.approx_percentile(
            "l_extendedprice", F.lit(0.9), F.lit(10_000_000)
        ).alias("ap90"),
    )


@query(
    "agg_string_agg",
    oracle="""
    SELECT r_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM region JOIN nation ON n_regionkey = r_regionkey
    GROUP BY r_regionkey
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered list aggregation rendered to a string so both engines hash
    identically (collect_list order is nondeterministic → sort first)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        r.join(n, n.n_regionkey == r.r_regionkey)
        .groupBy("r_regionkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations")
        )
    )


@query(
    "agg_min_max_by",
    oracle="""
    SELECT l_returnflag,
           arg_max(l_orderkey, CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                               * 10000000000 + l_orderkey) AS priciest_order,
           arg_min(l_orderkey, CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                               * 10000000000 + l_orderkey) AS cheapest_order,
           max(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin aggregation (Spark max_by/min_by == DuckDB
    arg_max/arg_min).  The ordering key packs (price cents, orderkey)
    into one int64 — two rows CAN share a group's max price on a data
    roll (~20 collisions/group at sf0.01 price cardinality), and an
    untied arg_max would then be engine-dependent.  Key width holds to
    orderkey < 1e10; beyond that pack into decimal or use the window
    formulation (topk_per_group)."""
    li = load_table(spark, sf_dir, "lineitem")
    key = money_units(F.col("l_extendedprice"), 2) * F.lit(
        10_000_000_000
    ) + F.col("l_orderkey")
    return li.groupBy("l_returnflag").agg(
        F.max_by("l_orderkey", key).alias("priciest_order"),
        F.min_by("l_orderkey", key).alias("cheapest_order"),
        F.max("l_extendedprice").alias("max_price"),
    )


@query(
    "agg_bool_bit",
    oracle="""
    SELECT l_returnflag,
           bool_and(l_quantity > 0) AS all_positive,
           bool_or(l_discount > 0.09) AS any_big_discount,
           bit_and(l_linenumber) AS lines_and,
           bit_or(l_linenumber) AS lines_or,
           bit_xor(l_orderkey) AS keys_xor
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_bool_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean and bitwise aggregates — single-pass mergeable partials
    (bit_xor over keys doubles as a cheap order-insensitive checksum,
    handy for 100 TB partition-level integrity checks)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_big_discount"),
        F.bit_and("l_linenumber").alias("lines_and"),
        F.bit_or("l_linenumber").alias("lines_or"),
        F.bit_xor("l_orderkey").alias("keys_xor"),
    )


@query(
    "agg_count_if",
    oracle="""
    SELECT o_orderstatus,
           count(*) FILTER (o_totalprice > 200000) AS n_big,
           count(*) FILTER (o_orderpriority = '1-URGENT') AS n_urgent,
           count(*) AS n_total
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_count_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional counts (count_if == FILTER clause) — one pass, no
    self-joins for multi-condition tallies."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
        F.count(F.lit(1)).alias("n_total"),
    )


@query(
    "agg_collect_set",
    oracle="""
    SELECT c_nationkey,
           string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment)
               AS segments,
           count(DISTINCT c_mktsegment) AS n_segments
    FROM customer
    GROUP BY c_nationkey
    """,
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set aggregation rendered as a sorted string (collect_set
    order is nondeterministic -> sort_array before join)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias(
            "segments"
        ),
        F.countDistinct("c_mktsegment").alias("n_segments"),
    )


@query(
    "agg_product",
    oracle="""
    SELECT l_returnflag,
           round(product(1 + l_tax), 4) AS compound_tax,
           round(product(1 - l_discount), 4) AS compound_disc
    FROM lineitem
    WHERE l_orderkey <= 40
    GROUP BY l_returnflag
    """,
)
def agg_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product aggregation (compound factors) — multiplicative partials
    merge like sums, so the shuffle stays O(groups); input bounded so the
    product stays in double range."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 40)
    return li.groupBy("l_returnflag").agg(
        F.round(F.product(1 + F.col("l_tax")), 4).alias("compound_tax"),
        F.round(F.product(1 - F.col("l_discount")), 4).alias("compound_disc"),
    )


# agg_moments: identically-parenthesized cross-engine formula fragments.
# All inputs are exact int64 (see docstring); every double op below is
# exactly-rounded IEEE on identical operands in an identical tree, so
# the bits match without snapping anything but the sqrt outputs.
from hadoop_fixedlengthinputformat_spark.functions.num import snap_sql

# g1 = m3/m2^1.5 = (b/n^3)/((a/n^2)^1.5) = b / (a * sqrt(a));
# g2 = m4/m2^2 - 3 = (c/n^4)/((a/n^2)^2) - 3 = c / (a * a) - 3
# (the n powers cancel exactly — pinned against numpy in
# tests/test_curation.py, which caught a wrong-factor version both
# engines happily agreed on)
_SQA = snap_sql("sqrt(CAST(a AS DOUBLE))", 8)
_SKEW = snap_sql(f"b / (CAST(a AS DOUBLE) * ({_SQA}))", 4)
_KURT = snap_sql("(c / (CAST(a AS DOUBLE) * a)) - 3", 4)


@query(
    "agg_moments",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS qi
        FROM lineitem WHERE l_quantity IS NOT NULL
    ),
    g AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(qi) AS BIGINT) AS s1,
               CAST(SUM(qi*qi) AS BIGINT) AS s2,
               CAST(SUM(qi*qi*qi) AS BIGINT) AS s3,
               CAST(SUM(qi*qi*qi*qi) AS BIGINT) AS s4
        FROM base GROUP BY l_returnflag
    ),
    m AS (
        SELECT l_returnflag, n, a,
               (CAST(n AS DOUBLE) * n * s3) - (CAST(3 AS DOUBLE) * n * s1 * s2)
                   + (CAST(2 AS DOUBLE) * s1 * s1 * s1) AS b,
               (CAST(n AS DOUBLE) * n * n * s4)
                   - (CAST(4 AS DOUBLE) * n * n * s1 * s3)
                   + (CAST(6 AS DOUBLE) * n * s1 * s1 * s2)
                   - (CAST(3 AS DOUBLE) * s1 * s1 * s1 * s1) AS c
        FROM (SELECT *, n*CAST(s2 AS HUGEINT) - CAST(s1 AS HUGEINT)*s1 AS a
              FROM g)
    )
    SELECT l_returnflag, n AS n_rows,
           {_SKEW} + 0 AS skew_q,
           {_KURT} + 0 AS kurt_q
    FROM m WHERE n >= 2 AND a > 0
    """,
)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per return flag from
    EXACT integer power sums (the ts_anomaly_zscore technique, one
    order higher): quantities floor to small int64s, so S1..S4 sum
    exactly and merge-order-free; the classic raw-moment identities
    n³m₃ = n²S₃−3nS₁S₂+2S₁³ and n⁴m₄ = n³S₄−4n²S₁S₃+6nS₁²S₂−3S₁⁴ are
    then evaluated in doubles with an IDENTICALLY-parenthesized tree
    on both engines (every op exactly-rounded on identical operands ⇒
    identical bits; S₁⁴ would overflow int64, which is why the
    combination steps are double).  Built-in skewness()/kurtosis()
    are NOT cross-engine comparable: Spark returns population g₁/g₂
    while DuckDB returns sample-adjusted b₁/b₂, and both accumulate
    doubles in merge order.  sqrt outputs snapped to 8 decimals, final
    ratios snapped to 4 (+0 clears IEEE -0.0).  One map-side-combined
    groupBy — the same single-exchange shape as agg_stats.  Overflow
    budget (re-derived by the round-8 sf1 soak): the variance term
    a = n·S₂−S₁² is DECIMAL(38,0)/HUGEINT — its old int64 form grew
    as 2500n² (measured 3.3e15 at a 2M-row sf1 group) and would have
    wrapped/raised at ~6e7 rows/group; the sum stays exact past 1e17
    now, but past a's 2^63 crossing (~6e7 rows/group) its →double
    conversion is snap-absorbed rather than bit-exact (the 1-ulp
    Decimal-vs-HUGEINT seam, ADVICE r8).  The int64
    power sums bind next: qi ≤ 50 ⇒ S₄ ≤ 6.25e6·n, safe past 1e11
    rows/group; larger domains re-unit qi first."""
    li = load_table(spark, sf_dir, "lineitem")
    qi = F.floor(F.col("l_quantity")).cast("long")
    base = li.where(F.col("l_quantity").isNotNull()).select(
        "l_returnflag", qi.alias("qi")
    )
    q = F.col("qi")
    g = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    m = g.select(
        "l_returnflag",
        "n",
        (
            F.col("n").cast("decimal(38,0)") * F.col("s2")
            - F.col("s1").cast("decimal(38,0)")
            * F.col("s1").cast("decimal(38,0)")
        ).alias("a"),
        (
            F.col("n").cast("double") * F.col("n") * F.col("s3")
            - F.lit(3.0) * F.col("n") * F.col("s1") * F.col("s2")
            + F.lit(2.0) * F.col("s1") * F.col("s1") * F.col("s1")
        ).alias("b"),
        (
            F.col("n").cast("double") * F.col("n") * F.col("n") * F.col("s4")
            - F.lit(4.0) * F.col("n") * F.col("n") * F.col("s1") * F.col("s3")
            + F.lit(6.0) * F.col("n") * F.col("s1") * F.col("s1") * F.col("s2")
            - F.lit(3.0) * F.col("s1") * F.col("s1") * F.col("s1") * F.col("s1")
        ).alias("c"),
    )
    return m.where((F.col("n") >= 2) & (F.col("a") > 0)).select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        (F.expr(_SKEW) + F.lit(0.0)).alias("skew_q"),
        (F.expr(_KURT) + F.lit(0.0)).alias("kurt_q"),
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH base AS (
        SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS qi,
               CAST(floor(l_extendedprice) AS BIGINT) AS w
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    per AS (
        SELECT l_returnflag, qi, CAST(SUM(w) AS BIGINT) AS wsum
        FROM base GROUP BY l_returnflag, qi
    ),
    cum AS (
        SELECT l_returnflag, qi,
               CAST(SUM(wsum) OVER (PARTITION BY l_returnflag
                                    ORDER BY qi) AS BIGINT) AS cw,
               CAST(SUM(wsum) OVER (PARTITION BY l_returnflag)
                    AS BIGINT) AS total
        FROM per
    )
    SELECT l_returnflag, MIN(qi) AS wmedian_qty, total AS total_w
    FROM cum WHERE 2 * cw >= total
    GROUP BY l_returnflag, total
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (lower) of quantity weighted by revenue, per
    return flag — the smallest value whose running weight reaches half
    the group total.  Everything stays EXACT int64 (floored quantity and
    price, the agg_moments technique): the per-value pre-aggregation
    collapses the running sum's input to |distinct values| rows per
    group (``running_counts`` with the weight sum as its count), so
    the rank window is tiny regardless of corpus size, and
    integer sums are merge-order-free — no snap, no double drift.
    Shuffle shape: one (flag, qi) groupBy with map-side partials, then
    a flag-keyed window over the collapsed rows."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.where(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    ).select(
        "l_returnflag",
        F.floor("l_quantity").cast("long").alias("qi"),
        F.floor("l_extendedprice").cast("long").alias("w"),
    )
    per = base.groupBy("l_returnflag", "qi").agg(F.sum("w").alias("wsum"))
    cum = running_counts(per, "l_returnflag", "qi", cnt="wsum")
    return (
        cum.where(2 * F.col("cw") >= F.col("n"))
        .groupBy("l_returnflag", "n")
        .agg(F.min("qi").alias("wmedian_qty"))
        .select(
            "l_returnflag",
            "wmedian_qty",
            F.col("n").alias("total_w"),
        )
    )


# Gini: G = (2*S1 - (n+1)*S0) / (n*S0) over ascending-sorted xi with
# 1-based ranks i, S0 = sum(xi), S1 = sum(i*xi) — all EXACT int64, so
# the one double division runs on identical operands in an identical
# tree on both engines.  Rank ties (equal xi) cost nothing: the i-sum
# over a tie block is order-free.
_GINI = snap_sql(
    "(2.0 * s1 - (CAST(n AS DOUBLE) + 1) * s0) / (CAST(n AS DOUBLE) * s0)", 4
)


@query(
    "agg_gini",
    oracle=f"""
    WITH base AS (
        SELECT o_orderpriority AS priority,
               CAST(floor(o_totalprice) AS BIGINT) AS x
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_totalprice >= 0
              AND o_orderpriority IS NOT NULL
    ),
    ranked AS (
        SELECT priority, x,
               ROW_NUMBER() OVER (PARTITION BY priority ORDER BY x) AS i
        FROM base
    ),
    g AS (
        SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s0,
               CAST(SUM(i * x) AS BIGINT) AS s1
        FROM ranked GROUP BY priority
    )
    SELECT priority, n AS n_orders,
           {_GINI} + 0 AS gini
    FROM g WHERE s0 > 0
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of order value per priority class
    (the inequality measure curation dashboards put next to domain
    mixes): the rank-sum identity G = (2*Σi·xᵢ − (n+1)*Σxᵢ) / (n*Σxᵢ)
    over ascending-sorted exact int64 values — rank ties are order-free
    (equal xᵢ make the i-sum over the tie block constant), every sum is
    exact, and only the final ratio touches doubles (identical operand
    tree both engines, snapped to 4).  Shuffle shape: one priority-
    keyed rank window + one map-side-combined groupBy on the same key —
    the partitioning is reused across both.  Overflow budget:
    Σi·xᵢ ≤ n²·max(x) ≈ 1.4e18 at sf1 per class — inside int64; larger
    scales re-unit x first (the agg_moments rule)."""
    o = load_table(spark, sf_dir, "orders")
    base = o.where(
        F.col("o_totalprice").isNotNull()
        & (F.col("o_totalprice") >= 0)
        & F.col("o_orderpriority").isNotNull()
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.floor("o_totalprice").cast("long").alias("x"),
    )
    w = Window.partitionBy("priority").orderBy("x")
    ranked = base.select(
        "priority", "x", F.row_number().over(w).cast("long").alias("i")
    )
    g = ranked.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s0"),
        F.sum(F.col("i") * F.col("x")).alias("s1"),
    )
    return g.where(F.col("s0") > 0).select(
        "priority",
        F.col("n").alias("n_orders"),
        (F.expr(_GINI) + F.lit(0.0)).alias("gini"),
    )


# Welch t-test from exact int64 power sums: variance terms va = n*S2-S1²
# (exact), then t = (m1-m2)/sqrt(v1/n1+v2/n2) evaluated in an
# identically-parenthesized double tree.  sqrt snapped to 8 first, the
# statistic to 4 (the agg_moments discipline).
_T_DEN = snap_sql(
    "sqrt(va / (CAST(na AS DOUBLE) * na * (na - 1))"
    "    + vr / (CAST(nr AS DOUBLE) * nr * (nr - 1)))", 8
)
_T_STAT = snap_sql(
    f"(s1a / CAST(na AS DOUBLE) - s1r / CAST(nr AS DOUBLE)) / ({_T_DEN})", 4
)


@query(
    "agg_ttest",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS qi
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_returnflag IN ('A', 'R')
    ),
    g AS (
        SELECT CAST(count(*) FILTER (l_returnflag = 'A') AS BIGINT) AS na,
               CAST(SUM(qi)  FILTER (l_returnflag = 'A') AS BIGINT) AS s1a,
               CAST(SUM(qi*qi) FILTER (l_returnflag = 'A') AS BIGINT) AS s2a,
               CAST(count(*) FILTER (l_returnflag = 'R') AS BIGINT) AS nr,
               CAST(SUM(qi)  FILTER (l_returnflag = 'R') AS BIGINT) AS s1r,
               CAST(SUM(qi*qi) FILTER (l_returnflag = 'R') AS BIGINT) AS s2r
        FROM base
    ),
    v AS (
        SELECT na, s1a, nr, s1r,
               na * CAST(s2a AS HUGEINT) - CAST(s1a AS HUGEINT) * s1a AS va,
               nr * CAST(s2r AS HUGEINT) - CAST(s1r AS HUGEINT) * s1r AS vr
        FROM g
    )
    SELECT na AS n_a, nr AS n_r, {_T_STAT} + 0 AS t_stat
    FROM v WHERE na >= 2 AND nr >= 2 AND (va > 0 OR vr > 0)
    """,
)
def agg_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-statistic (returned vs rejected quantities) —
    the A/B-comparison primitive, computed from EXACT integer power
    sums in ONE pass: conditional sums per class inside a single global
    aggregate (map-side combined, no join of two filtered subqueries),
    then the Welch formula n·S₂−S₁² / (n²(n−1)) per class evaluated in
    an identically-parenthesized double tree on both engines (sqrt
    snapped to 8, statistic to 4 — the agg_moments discipline).
    Overflow budget (re-derived by the round-8 sf1 soak): va ≤ 2500·n²
    is DECIMAL(38,0)/HUGEINT (its int64 form, measured 8.0e14 at sf1's
    2M-row class, would have wrapped/raised at ~6e7 rows/class) — the
    sum stays exact past 1e17 rows, snap-absorbed (not bit-exact) past
    va's 2^63 crossing at ~6e7 rows/class (the 1-ulp Decimal-vs-HUGEINT
    →double seam, ADVICE r8); the int64 sums bind next at
    S₂ ≤ 2500·n → ~3.7e15 rows/class."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.where(
        F.col("l_quantity").isNotNull()
        & F.col("l_returnflag").isin("A", "R")
    ).select(
        "l_returnflag", F.floor("l_quantity").cast("long").alias("qi")
    )
    q = F.col("qi")

    def side(flag: str, expr, name: str):
        return F.sum(
            F.when(F.col("l_returnflag") == flag, expr).otherwise(F.lit(0))
        ).alias(name)

    def cnt(flag: str, name: str):
        return F.sum(
            F.when(F.col("l_returnflag") == flag, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias(name)

    g = base.agg(
        cnt("A", "na"), side("A", q, "s1a"), side("A", q * q, "s2a"),
        cnt("R", "nr"), side("R", q, "s1r"), side("R", q * q, "s2r"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    v = g.select(
        "na", "s1a", "nr", "s1r",
        (dec(F.col("na")) * F.col("s2a")
         - dec(F.col("s1a")) * dec(F.col("s1a"))).alias("va"),
        (dec(F.col("nr")) * F.col("s2r")
         - dec(F.col("s1r")) * dec(F.col("s1r"))).alias("vr"),
    )
    return v.where(
        (F.col("na") >= 2) & (F.col("nr") >= 2)
        & ((F.col("va") > 0) | (F.col("vr") > 0))
    ).select(
        F.col("na").alias("n_a"),
        F.col("nr").alias("n_r"),
        (F.expr(_T_STAT) + F.lit(0.0)).alias("t_stat"),
    )


# Chi-square independence over the FIXED 3x2 (returnflag x linestatus)
# contingency: cell counts are exact int64 conditional sums, and the
# statistic is ONE explicit 6-term expression in a fixed order — no
# SUM-over-rows of double terms, so no merge-order drift anywhere.
_CHI_CELLS = [(f, s) for f in "ANR" for s in "FO"]
_CHI_TERMS = " + ".join(
    f"pow(o_{f.lower()}{s.lower()} - (r_{f.lower()} * c_{s.lower()}) / n, 2)"
    f" / ((r_{f.lower()} * c_{s.lower()}) / n)"
    for f, s in _CHI_CELLS
)
_CHI_STAT = snap_sql(_CHI_TERMS, 4)


@query(
    "agg_chisq",
    oracle=f"""
    WITH g AS (
        SELECT {', '.join(
            f"CAST(count(*) FILTER (l_returnflag = '{f}' AND "
            f"l_linestatus = '{s}') AS BIGINT) AS o_{f.lower()}{s.lower()}"
            for f, s in _CHI_CELLS
        )}
        FROM lineitem
        WHERE l_returnflag IN ('A', 'N', 'R') AND l_linestatus IN ('F', 'O')
    ),
    t AS (
        SELECT *,
               CAST(o_af + o_ao AS DOUBLE) AS r_a,
               CAST(o_nf + o_no AS DOUBLE) AS r_n,
               CAST(o_rf + o_ro AS DOUBLE) AS r_r,
               CAST(o_af + o_nf + o_rf AS DOUBLE) AS c_f,
               CAST(o_ao + o_no + o_ro AS DOUBLE) AS c_o,
               CAST(o_af + o_ao + o_nf + o_no + o_rf + o_ro AS DOUBLE) AS n
        FROM g
    )
    SELECT CAST(n AS BIGINT) AS n_rows, {_CHI_STAT} + 0 AS chi2
    FROM t
    WHERE r_a > 0 AND r_n > 0 AND r_r > 0 AND c_f > 0 AND c_o > 0
    """,
)
def agg_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence (returnflag x linestatus) with a
    DETERMINISTIC evaluation: the 3x2 contingency's cell counts are
    exact int64 conditional sums inside one global aggregate, and the
    statistic is a single 6-term expression written in a fixed cell
    order and SHARED verbatim with the oracle — never a SUM over
    per-cell double terms, whose merge order neither engine pins.
    Degenerate margins (an absent row/column class) yield an empty
    result on both sides rather than a division by zero.  One map-side-
    combined aggregate; one row out."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("A", "N", "R")
        & F.col("l_linestatus").isin("F", "O")
    )
    g = li.agg(*[
        F.sum(
            F.when(
                (F.col("l_returnflag") == f) & (F.col("l_linestatus") == s),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).cast("long").alias(f"o_{f.lower()}{s.lower()}")
        for f, s in _CHI_CELLS
    ])
    t = g.select(
        "*",
        (F.col("o_af") + F.col("o_ao")).cast("double").alias("r_a"),
        (F.col("o_nf") + F.col("o_no")).cast("double").alias("r_n"),
        (F.col("o_rf") + F.col("o_ro")).cast("double").alias("r_r"),
        (F.col("o_af") + F.col("o_nf") + F.col("o_rf"))
        .cast("double").alias("c_f"),
        (F.col("o_ao") + F.col("o_no") + F.col("o_ro"))
        .cast("double").alias("c_o"),
        (
            F.col("o_af") + F.col("o_ao") + F.col("o_nf")
            + F.col("o_no") + F.col("o_rf") + F.col("o_ro")
        ).cast("double").alias("n"),
    )
    return t.where(
        (F.col("r_a") > 0) & (F.col("r_n") > 0) & (F.col("r_r") > 0)
        & (F.col("c_f") > 0) & (F.col("c_o") > 0)
    ).select(
        F.col("n").cast("long").alias("n_rows"),
        (F.expr(_CHI_STAT) + F.lit(0.0)).alias("chi2"),
    )


# Spearman rho from exact integer midranks: with x = 2*midrank (always
# an integer: 2*min_rank + ties - 1), the Pearson identity
# (n*Sxy - Sx*Sy) / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2)) runs on
# exact sums; only the two sqrts and the final ratio are doubles
# (snapped 8 / 4, identical trees).  Every operand of every product is
# cast to DOUBLE first (the round-7 _corr_expr rule): the sf1 soak
# measured n*sxx at 2.1e25 = 2.3e6 x int64 max for a 2M-row group, so
# any int64 product here — including the old n*sxx > sx*sx degeneracy
# guard — wraps on Spark and raises on DuckDB from ~2.3e5 rows/group.
# snap() magnitude rule: ranks grow with n, so n·sxx−sx² = n²·σ²ₓ is
# ~n⁴/3 — NORMALIZE by n⁴ before snapping (sqrt gives σₓ/n ≤ 0.58,
# bounded at any corpus size; the sf1 soak caught the un-normalized
# sqrt at 2.2e12, past snap-8's ~9.2e10 Spark-floor saturation).
_SP_N2 = "(CAST(n AS DOUBLE) * n)"
_SP_DA = snap_sql(
    f"sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    f" - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    f" / ({_SP_N2} * {_SP_N2}))", 8
)
_SP_DB = snap_sql(
    f"sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    f" - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    f" / ({_SP_N2} * {_SP_N2}))", 8
)
_SP_RHO = snap_sql(
    f"((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    f" - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    f" / ({_SP_N2} * {_SP_N2}))"
    f" / (({_SP_DA}) * ({_SP_DB}))", 4
)


@query(
    "agg_spearman",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag AS flag,
               CAST(floor(l_quantity) AS BIGINT) AS q,
               CAST(floor(l_extendedprice) AS BIGINT) AS p
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
              AND l_returnflag IS NOT NULL
    ),
    ranked AS (
        SELECT flag,
               2 * RANK() OVER (PARTITION BY flag ORDER BY q)
                   + COUNT(*) OVER (PARTITION BY flag, q) - 1 AS x,
               2 * RANK() OVER (PARTITION BY flag ORDER BY p)
                   + COUNT(*) OVER (PARTITION BY flag, p) - 1 AS y
        FROM base
    ),
    g AS (
        SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               MAX(x) AS mxx, MIN(x) AS mnx,
               MAX(y) AS mxy, MIN(y) AS mny
        FROM ranked GROUP BY flag
    )
    SELECT flag, n AS n_rows, {_SP_RHO} + 0 AS rho
    FROM g WHERE n >= 2 AND mxx > mnx AND mxy > mny
    """,
)
def agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (quantity vs revenue per return flag)
    with EXACT integer midranks: 2*midrank = 2*rank + |ties| - 1 is
    always an integer, so every Pearson-identity power sum is exact
    int64 and merge-order-free; only the two sqrts (snapped to 8) and
    the final ratio (snapped to 4) touch doubles, on identical operand
    trees both engines.  Built-in corr() on ranks is NOT cross-engine
    comparable (double accumulation in merge order).  Shuffle shape
    (round-15 rework, VERDICT r14 #4 — the old per-row rank windows ran
    3 tasks total at any core count): ONE map-side-combined
    (flag, q, p) pair-count groupBy is the only corpus-sized exchange
    (checkpointed — three consumers); midranks derive from the pair
    table per VALUE (flag-partitioned running windows over DISTINCT
    values only — domain-bounded) and broadcast back onto it, so the
    rank stage parallelizes across the pair-hash partitions.  The
    per-value x is the identical integer the row window produced:
    rank = cw − cnt + 1 ⇒ x = 2·cw − cnt + 1, and every power sum
    re-weights by the pair count (sum over rows == sum over pairs).
    Overflow budget
    (re-derived by the round-8 sf1 soak, which caught the original
    int64 sums at 1.16x int64 max for a 2M-row group): per-row rank
    products are DECIMAL(38,0) on Spark / HUGEINT on DuckDB, so
    Σx·y ≤ 4n³ binds at the decimal38 ceiling — ~2.9e11 rows/group,
    past the ~1.3e11 a 100 TB lineitem implies.  Cross-engine caveat
    (ADVICE r8): the sums themselves stay exact, but once one crosses
    2^63 (sxx/syy/sxy from ~1.3e6 rows/group) the Decimal(38)→double
    vs HUGEINT→double conversion inside the compared tree can differ
    by 1 ulp — n⁴-normalization + snap absorbs that (a flip needs the
    snapped value within ~1e-8 of a boundary), so past the crossing
    the budget is SNAP-ABSORBED, not bit-exact.  The
    degeneracy guard is max(rank) > min(rank) (exactly variance > 0,
    no products at all — the old n·sxx > sx² quartic wrapped/raised
    from ~2.3e5 rows/group).  Degenerate (constant) columns yield no
    row, not a division by zero."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.where(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
        & F.col("l_returnflag").isNotNull()
    ).select(
        F.col("l_returnflag").alias("flag"),
        F.floor("l_quantity").cast("long").alias("q"),
        F.floor("l_extendedprice").cast("long").alias("p"),
    )
    # Round-15 rank-stage parallelization (VERDICT r14 #4): the r8-r14
    # shape ranked every ROW with two flag-partitioned windows — 3
    # tasks total at any core count and any SF (PERF_r14 scaling block:
    # 8v32 ratio ~1.19).  Midranks depend only on the VALUE, so the
    # corpus collapses first to (flag, q, p) pair counts in ONE
    # map-side-combined groupBy (the only corpus-sized exchange), the
    # per-value rank tables derive from the pair table (tiny windows
    # over distinct values — quantities are ~O(50), floored prices are
    # bounded by the price domain), and the exact sums re-weight by the
    # pair count: rank(v) = cw - cnt + 1 over the value-ordered running
    # count, so x = 2*rank + cnt - 1 = 2*cw - cnt + 1 — the identical
    # integer the row window produced, and every power sum is the same
    # exact DECIMAL(38,0) total (sum over rows == sum over pairs
    # weighted by c).  Overflow budget unchanged: per-term c*x*y <=
    # 4n^3 binds at the same ~2.9e11 rows/group decimal38 ceiling.
    # The value tables broadcast (domain-bounded, never corpus-sized).
    # pairs feeds three consumers (qx, py, the weighted join).  The
    # identical-subtree ReusedExchange variant was MEASURED (r14
    # win_ntile discipline): the final adaptive plan kept 2 of 3
    # consumers on one exchange but the third raced its broadcast
    # stage past the reuse map and re-scanned the corpus (2 FileScans
    # executed).  The checkpoint pins ONE corpus pass structurally —
    # the pair table is domain-bounded (|q-dom| x |p-dom| x flags at
    # most), the corpus is not — at a wash locally (3.23 vs 3.09 s
    # sf0.1, 5.67 vs 5.22 s sf1, inside run noise).
    pairs = base.groupBy("flag", "q", "p").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)

    def value_x(col: str, x_col: str):
        per_val = pairs.groupBy("flag", col).agg(F.sum("c").alias("cnt"))
        return running_counts(per_val, "flag", col).select(
            "flag",
            col,
            "cnt",
            (2 * F.col("cw") - F.col("cnt") + 1).alias(x_col),
        )

    qx = value_x("q", "x")
    py = value_x("p", "y")

    def dec(c):
        return c.cast("decimal(38,0)")

    # Marginal sums need no pair join at all: sx/sxx/extrema are pure
    # per-q-value sums, sy/syy/extrema pure per-p-value sums.  Only
    # the cross term sxy touches pairs, and it regroups exactly as
    # sxy = Σ_p y_p · (Σ_q c_{q,p}·x_q): join pairs with the tiny q
    # table (AQE broadcasts it from runtime stats — no forced hint,
    # the r10 rule), collapse to one zx row per (flag, p) map-side,
    # then a value-table-sized join against py.  The price-value
    # table (up to |price-domain| rows) therefore NEVER joins a
    # corpus-sized side — without this, AQE picked a SortMergeJoin of
    # the full pair table against py at sf1 (14.8 s vs 5-7 s).
    gq = qx.groupBy("flag").agg(
        F.sum("cnt").alias("n"),
        F.sum(dec(F.col("x")) * F.col("cnt")).alias("sx"),
        F.sum(dec(F.col("x")) * F.col("x") * F.col("cnt")).alias("sxx"),
        F.max("x").alias("mxx"),
        F.min("x").alias("mnx"),
    )
    gp = py.groupBy("flag").agg(
        F.sum(dec(F.col("y")) * F.col("cnt")).alias("sy"),
        F.sum(dec(F.col("y")) * F.col("y") * F.col("cnt")).alias("syy"),
        F.max("y").alias("mxy"),
        F.min("y").alias("mny"),
    )
    zp = (
        pairs.join(qx.select("flag", "q", "x"), ["flag", "q"])
        .groupBy("flag", "p")
        .agg(F.sum(dec(F.col("x")) * F.col("c")).alias("zx"))
    )
    gxy = (
        zp.join(py.select("flag", "p", "y"), ["flag", "p"])
        .groupBy("flag")
        .agg(F.sum(F.col("zx") * F.col("y")).alias("sxy"))
    )
    g = gq.join(gp, "flag").join(gxy, "flag")
    return g.where(
        (F.col("n") >= 2)
        & (F.col("mxx") > F.col("mnx"))
        & (F.col("mxy") > F.col("mny"))
    ).select(
        "flag",
        F.col("n").alias("n_rows"),
        (F.expr(_SP_RHO) + F.lit(0.0)).alias("rho"),
    )


# Mann-Whitney z from exact big-int rank sums: 2U = 2R_A - nA(nA+1) is
# integer-exact via per-value midranks, and the tie-corrected variance
# uses the exact tie sum T = sum(t^3 - t).  One shared double tree.
# snap() magnitude rule: the raw sd grows ~nn^1.5/7 and would saturate
# Spark's snap-8 floor from ~7.4e7 pooled rows, so the SNAPPED sd is
# normalized by nn^1.5 — sqrt((na/nn)(nb/nn)/12 · ((nn+1)−T)/nn) ≤ ~0.3
# at any corpus size — and z recovers the scale via one final
# sqrt(nn) factor (z itself grows only as sqrt(nn)·effect, far under
# the snap-4 ceiling for any real data).
_MW_VAR = snap_sql(
    "sqrt(((CAST(na AS DOUBLE) / nn) * (CAST(nb AS DOUBLE) / nn) / 12.0)"
    " * (((nn + 1.0) - tsum / (CAST(nn AS DOUBLE) * (nn - 1.0))) / nn))", 8
)
_MW_Z = snap_sql(
    f"((CAST(u2 AS DOUBLE) - CAST(na AS DOUBLE) * nb)"
    f" / (CAST(nn AS DOUBLE) * nn))"
    f" / (2.0 * ({_MW_VAR})) * sqrt(CAST(nn AS DOUBLE))", 4
)


@query(
    "agg_mannwhitney",
    oracle=f"""
    WITH base AS (
        SELECT (l_returnflag = 'A') AS is_a,
               CAST(floor(l_quantity) AS BIGINT) AS qi
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_returnflag IN ('A', 'R')
    ),
    per AS (
        SELECT qi, CAST(count(*) AS BIGINT) AS cnt,
               CAST(count(*) FILTER (is_a) AS BIGINT) AS cnta
        FROM base GROUP BY qi
    ),
    cum AS (
        SELECT qi, cnt, cnta,
               CAST(COALESCE(SUM(cnt) OVER (ORDER BY qi
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS less
        FROM per
    ),
    s AS (
        SELECT SUM(CAST(cnta AS HUGEINT) * (2 * less + cnt + 1)) AS r2a,
               CAST(SUM(cnta) AS BIGINT) AS na,
               CAST(SUM(cnt) AS BIGINT) AS nn,
               SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tsum,
               CAST(COUNT(*) AS BIGINT) AS ndist
        FROM cum
    ),
    u AS (
        SELECT na, nn - na AS nb, nn, tsum,
               r2a - na * (CAST(na AS HUGEINT) + 1) AS u2
        FROM s
    )
    SELECT na AS n_a, nb AS n_r, CAST(u2 AS BIGINT) AS u2,
           {_MW_Z} + 0 AS z_stat
    FROM u, (SELECT ndist FROM s) d
    WHERE na >= 1 AND nb >= 1 AND d.ndist >= 2
    """,
)
def agg_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (returned vs rejected quantities) — the
    nonparametric companion to agg_ttest — from EXACT integer rank
    sums: per-value pooled midranks via 2·midrank = 2·|smaller| +
    |ties| + 1 (always integer), so 2U = 2R_A − n_A(n_A+1) is exact
    int64, and the tie-corrected normal approximation's variance uses
    the exact tie sum Σ(t³−t); only the final z touches doubles
    (identical tree, sqrt snapped 8 / z snapped 4; no continuity
    correction — stated, same on both sides).  The midrank table is
    |distinct values| rows, so the running-sum window is tiny at any
    corpus size.  Degenerate inputs (one class empty, all values tied)
    yield no row.  Overflow budget (re-derived by the round-8 sf1
    soak, which measured tsum = 2.7e16 at 4M pooled rows — the old
    int64 Σt³ would have wrapped/raised from ~2.8e7 pooled at 50
    distinct values): tsum, r2a and u2 are DECIMAL(38,0)/HUGEINT, so
    the binder is now the exposed BIGINT u2 output column (u2 ~ N²/4,
    exact to ~6e9 pooled rows); internal sums stay exact past 1e12,
    snap-absorbed (not bit-exact) in the compared double tree past
    their 2^63 crossing at ~2.8e7 pooled rows (the 1-ulp
    Decimal-vs-HUGEINT →double seam, ADVICE r8)."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.where(
        F.col("l_quantity").isNotNull()
        & F.col("l_returnflag").isin("A", "R")
    ).select(
        (F.col("l_returnflag") == "A").alias("is_a"),
        F.floor("l_quantity").cast("long").alias("qi"),
    )
    per = base.groupBy("qi").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("is_a"), F.lit(1)).otherwise(F.lit(0)))
        .cast("long").alias("cnta"),
    )
    # windowed input = |distinct floor(quantity)| buckets (TPC-H: <=50)
    cum = running_counts(per, [], "qi")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = cum.agg(
        F.sum(
            dec(F.col("cnta")) * (2 * F.col("cw") - F.col("cnt") + 1)
        ).alias("r2a"),
        F.sum("cnta").alias("na"),
        F.sum("cnt").alias("nn"),
        F.sum(
            dec(F.col("cnt")) * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tsum"),
        F.count(F.lit(1)).alias("ndist"),
    )
    u = s.select(
        "na",
        (F.col("nn") - F.col("na")).alias("nb"),
        "nn",
        "tsum",
        "ndist",
        (
            F.col("r2a") - dec(F.col("na")) * (dec(F.col("na")) + 1)
        ).alias("u2"),
    )
    return u.where(
        (F.col("na") >= 1) & (F.col("nb") >= 1) & (F.col("ndist") >= 2)
    ).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_r"),
        F.col("u2").cast("long").alias("u2"),
        (F.expr(_MW_Z) + F.lit(0.0)).alias("z_stat"),
    )


@query(
    "agg_ks_test",
    oracle="""
    WITH base AS (
        SELECT (l_returnflag = 'A') AS is_a,
               CAST(floor(l_quantity) AS BIGINT) AS qi
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_returnflag IN ('A', 'R')
    ),
    per AS (
        SELECT qi, CAST(count(*) FILTER (is_a) AS BIGINT) AS ca,
               CAST(count(*) FILTER (NOT is_a) AS BIGINT) AS cb
        FROM base GROUP BY qi
    ),
    cum AS (
        SELECT CAST(SUM(ca) OVER (ORDER BY qi) AS BIGINT) AS cuma,
               CAST(SUM(cb) OVER (ORDER BY qi) AS BIGINT) AS cumb,
               CAST(SUM(ca) OVER () AS BIGINT) AS na,
               CAST(SUM(cb) OVER () AS BIGINT) AS nb
        FROM per
    )
    SELECT na AS n_a, nb AS n_r,
           CAST(MAX(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_num,
           na * nb AS d_den
    FROM cum WHERE na >= 1 AND nb >= 1
    GROUP BY na, nb
    """,
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance (returned vs rejected
    quantity distributions) computed EXACTLY: D = max over values of
    |ECDF_A − ECDF_R| cross-multiplies to max |cumA·n_B − cumB·n_A| /
    (n_A·n_B) — every term exact int64, so the statistic is exposed as
    an exact integer fraction (numerator + denominator) with NO
    floating point anywhere, the strongest cross-engine form possible.
    The per-value pre-aggregation bounds the ECDF window to |distinct
    values| rows at any corpus size.  Overflow: cum·n ≤ N² — int64-safe
    to ~3e9 pooled rows."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.where(
        F.col("l_quantity").isNotNull()
        & F.col("l_returnflag").isin("A", "R")
    ).select(
        (F.col("l_returnflag") == "A").alias("is_a"),
        F.floor("l_quantity").cast("long").alias("qi"),
    )
    per = base.groupBy("qi").agg(
        F.sum(F.when(F.col("is_a"), F.lit(1)).otherwise(F.lit(0)))
        .cast("long").alias("ca"),
        F.sum(F.when(~F.col("is_a"), F.lit(1)).otherwise(F.lit(0)))
        .cast("long").alias("cb"),
    )
    # windowed input = |distinct floor(quantity)| buckets (TPC-H: <=50)
    wrun = Window.orderBy("qi").rangeBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = per.select(
        F.sum("ca").over(wrun).alias("cuma"),
        F.sum("cb").over(wrun).alias("cumb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    return (
        cum.where((F.col("na") >= 1) & (F.col("nb") >= 1))
        .groupBy("na", "nb")
        .agg(
            F.max(
                F.abs(
                    F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")
                )
            ).alias("d_num")
        )
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_r"),
            "d_num",
            (F.col("na") * F.col("nb")).alias("d_den"),
        )
    )


# Cramér's V for the fixed 3x2 table: min(r-1, c-1) = 1, so
# V = sqrt(chi2 / n) — one more snapped op on the shared chi2 tree.
_CRAMER_V = snap_sql(f"sqrt(({_CHI_STAT}) / n)", 4)


@query(
    "agg_cramers_v",
    oracle=f"""
    WITH g AS (
        SELECT {', '.join(
            f"CAST(count(*) FILTER (l_returnflag = '{f}' AND "
            f"l_linestatus = '{s}') AS BIGINT) AS o_{f.lower()}{s.lower()}"
            for f, s in _CHI_CELLS
        )}
        FROM lineitem
        WHERE l_returnflag IN ('A', 'N', 'R') AND l_linestatus IN ('F', 'O')
    ),
    t AS (
        SELECT *,
               CAST(o_af + o_ao AS DOUBLE) AS r_a,
               CAST(o_nf + o_no AS DOUBLE) AS r_n,
               CAST(o_rf + o_ro AS DOUBLE) AS r_r,
               CAST(o_af + o_nf + o_rf AS DOUBLE) AS c_f,
               CAST(o_ao + o_no + o_ro AS DOUBLE) AS c_o,
               CAST(o_af + o_ao + o_nf + o_no + o_rf + o_ro AS DOUBLE) AS n
        FROM g
    )
    SELECT CAST(n AS BIGINT) AS n_rows, {_CRAMER_V} + 0 AS cramers_v
    FROM t
    WHERE r_a > 0 AND r_n > 0 AND r_r > 0 AND c_f > 0 AND c_o > 0
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength for the returnflag × linestatus
    contingency — the effect size a chi-square's raw statistic lacks
    (χ² grows with n; V = sqrt(χ²/(n·min(r−1,c−1))) stays in [0,1];
    min is 1 for the fixed 3×2 table).  Rides the SAME deterministic
    6-term cell expression as agg_chisq — exact int64 counts, one
    fixed-order double tree shared verbatim with the oracle, one more
    snapped sqrt on top."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("A", "N", "R")
        & F.col("l_linestatus").isin("F", "O")
    )
    g = li.agg(*[
        F.sum(
            F.when(
                (F.col("l_returnflag") == f) & (F.col("l_linestatus") == s),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).cast("long").alias(f"o_{f.lower()}{s.lower()}")
        for f, s in _CHI_CELLS
    ])
    t = g.select(
        "*",
        (F.col("o_af") + F.col("o_ao")).cast("double").alias("r_a"),
        (F.col("o_nf") + F.col("o_no")).cast("double").alias("r_n"),
        (F.col("o_rf") + F.col("o_ro")).cast("double").alias("r_r"),
        (F.col("o_af") + F.col("o_nf") + F.col("o_rf"))
        .cast("double").alias("c_f"),
        (F.col("o_ao") + F.col("o_no") + F.col("o_ro"))
        .cast("double").alias("c_o"),
        (
            F.col("o_af") + F.col("o_ao") + F.col("o_nf")
            + F.col("o_no") + F.col("o_rf") + F.col("o_ro")
        ).cast("double").alias("n"),
    )
    return t.where(
        (F.col("r_a") > 0) & (F.col("r_n") > 0) & (F.col("r_r") > 0)
        & (F.col("c_f") > 0) & (F.col("c_o") > 0)
    ).select(
        F.col("n").cast("long").alias("n_rows"),
        (F.expr(_CRAMER_V) + F.lit(0.0)).alias("cramers_v"),
    )


# Kruskal-Wallis H over the fixed three return-flag classes: with
# per-class DOUBLED rank sums r2_j exact int64 (pooled midranks), 
# H = (12/(N(N+1))) * sum(r2_j^2 / (4 n_j)) - 3(N+1), tie-corrected by
# 1 - T/(N^3 - N) — one fixed-order double tree, no SUM over doubles.
_KW_H_RAW = (
    "((12.0 / (CAST(nn AS DOUBLE) * (nn + 1.0)))"
    " * (CAST(r2a AS DOUBLE) * r2a / (4.0 * na)"
    "    + CAST(r2n AS DOUBLE) * r2n / (4.0 * nb)"
    "    + CAST(r2r AS DOUBLE) * r2r / (4.0 * nc))"
    " - 3.0 * (nn + 1.0))"
)
_KW_H = snap_sql(
    f"({_KW_H_RAW}) / (1.0 - CAST(tsum AS DOUBLE)"
    f" / (CAST(nn AS DOUBLE) * nn * nn - nn))", 4
)


@query(
    "agg_kruskal",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag AS cls, CAST(floor(l_quantity) AS BIGINT) AS qi
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_returnflag IN ('A', 'N', 'R')
    ),
    per AS (
        SELECT qi, CAST(count(*) AS BIGINT) AS cnt,
               CAST(count(*) FILTER (cls = 'A') AS BIGINT) AS ca,
               CAST(count(*) FILTER (cls = 'N') AS BIGINT) AS cn,
               CAST(count(*) FILTER (cls = 'R') AS BIGINT) AS cr
        FROM base GROUP BY qi
    ),
    cum AS (
        SELECT qi, cnt, ca, cn, cr,
               CAST(COALESCE(SUM(cnt) OVER (ORDER BY qi
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS less
        FROM per
    ),
    s AS (
        SELECT SUM(CAST(ca AS HUGEINT) * (2 * less + cnt + 1)) AS r2a,
               SUM(CAST(cn AS HUGEINT) * (2 * less + cnt + 1)) AS r2n,
               SUM(CAST(cr AS HUGEINT) * (2 * less + cnt + 1)) AS r2r,
               CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cn) AS BIGINT) AS nb,
               CAST(SUM(cr) AS BIGINT) AS nc, CAST(SUM(cnt) AS BIGINT) AS nn,
               SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tsum,
               CAST(COUNT(*) AS BIGINT) AS ndist
        FROM cum
    )
    SELECT na AS n_a, nb AS n_n, nc AS n_r, {_KW_H} + 0 AS h_stat
    FROM s WHERE na >= 1 AND nb >= 1 AND nc >= 1 AND ndist >= 2
    """,
)
def agg_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the three return-flag classes — the
    k-sample extension of agg_mannwhitney, same exact machinery: pooled
    per-value midranks double to integers, per-class DOUBLED rank sums
    are exact int64, and H with the Σ(t³−t) tie correction is one
    fixed-order double tree shared verbatim with the oracle (3 classes
    = 3 explicit terms, never a SUM over double terms).  The midrank
    table is |distinct values| rows; degenerate inputs (an empty class,
    all values tied) yield no row.  Overflow budget (round-8 sf1 soak,
    which measured tsum = 9.0e16 at 6M pooled rows — int64 Σt³ would
    have wrapped/raised from ~2.8e7 pooled): tsum and the doubled rank
    sums are DECIMAL(38,0)/HUGEINT, exact past 1e12 pooled rows
    (snap-absorbed, not bit-exact, in the compared double tree past
    their 2^63 crossing ~2.8e7 pooled — the 1-ulp Decimal-vs-HUGEINT
    →double seam, ADVICE r8); no big-integer column is exposed in the
    output."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.where(
        F.col("l_quantity").isNotNull()
        & F.col("l_returnflag").isin("A", "N", "R")
    ).select(
        F.col("l_returnflag").alias("cls"),
        F.floor("l_quantity").cast("long").alias("qi"),
    )

    def ccount(c: str, name: str):
        return F.sum(
            F.when(F.col("cls") == c, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias(name)

    per = base.groupBy("qi").agg(
        F.count(F.lit(1)).alias("cnt"),
        ccount("A", "ca"), ccount("N", "cn"), ccount("R", "cr"),
    )
    # windowed input = |distinct floor(quantity)| buckets (TPC-H: <=50)
    cum = running_counts(per, [], "qi")
    mid = 2 * F.col("cw") - F.col("cnt") + 1
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = cum.agg(
        F.sum(dec(F.col("ca")) * mid).alias("r2a"),
        F.sum(dec(F.col("cn")) * mid).alias("r2n"),
        F.sum(dec(F.col("cr")) * mid).alias("r2r"),
        F.sum("ca").alias("na"), F.sum("cn").alias("nb"),
        F.sum("cr").alias("nc"), F.sum("cnt").alias("nn"),
        F.sum(
            dec(F.col("cnt")) * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tsum"),
        F.count(F.lit(1)).alias("ndist"),
    )
    return s.where(
        (F.col("na") >= 1) & (F.col("nb") >= 1) & (F.col("nc") >= 1)
        & (F.col("ndist") >= 2)
    ).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_n"),
        F.col("nc").alias("n_r"),
        (F.expr(_KW_H) + F.lit(0.0)).alias("h_stat"),
    )


# Jarque-Bera rides the agg_moments fragments directly: both engines
# compute the identical SNAPPED skew/kurt first, then one more shared
# tree on top — n/6 * (g1^2 + g2^2/4).
_JB = snap_sql(
    f"(CAST(n AS DOUBLE) / 6.0)"
    f" * (pow({_SKEW}, 2) + pow({_KURT}, 2) / 4.0)", 4
)


@query(
    "agg_jarque_bera",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS qi
        FROM lineitem WHERE l_quantity IS NOT NULL
    ),
    g AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(qi) AS BIGINT) AS s1,
               CAST(SUM(qi*qi) AS BIGINT) AS s2,
               CAST(SUM(qi*qi*qi) AS BIGINT) AS s3,
               CAST(SUM(qi*qi*qi*qi) AS BIGINT) AS s4
        FROM base GROUP BY l_returnflag
    ),
    m AS (
        SELECT l_returnflag, n, a,
               (CAST(n AS DOUBLE) * n * s3) - (CAST(3 AS DOUBLE) * n * s1 * s2)
                   + (CAST(2 AS DOUBLE) * s1 * s1 * s1) AS b,
               (CAST(n AS DOUBLE) * n * n * s4)
                   - (CAST(4 AS DOUBLE) * n * n * s1 * s3)
                   + (CAST(6 AS DOUBLE) * n * s1 * s1 * s2)
                   - (CAST(3 AS DOUBLE) * s1 * s1 * s1 * s1) AS c
        FROM (SELECT *, n*CAST(s2 AS HUGEINT) - CAST(s1 AS HUGEINT)*s1 AS a
              FROM g)
    )
    SELECT l_returnflag, n AS n_rows, {_JB} + 0 AS jb_stat
    FROM m WHERE n >= 2 AND a > 0
    """,
)
def agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality statistic per return flag — n/6·(g₁² +
    g₂²/4) — riding agg_moments' exact-power-sum machinery unchanged:
    the identical CTE chain produces the identical SNAPPED skewness and
    excess kurtosis on both engines, then one more shared double tree
    on top.  Same single map-side-combined groupBy; same int64 budget
    (docstring there)."""
    li = load_table(spark, sf_dir, "lineitem")
    qi = F.floor(F.col("l_quantity")).cast("long")
    base = li.where(F.col("l_quantity").isNotNull()).select(
        "l_returnflag", qi.alias("qi")
    )
    q = F.col("qi")
    g = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    m = g.select(
        "l_returnflag",
        "n",
        (
            F.col("n").cast("decimal(38,0)") * F.col("s2")
            - F.col("s1").cast("decimal(38,0)")
            * F.col("s1").cast("decimal(38,0)")
        ).alias("a"),
        (
            F.col("n").cast("double") * F.col("n") * F.col("s3")
            - F.lit(3.0) * F.col("n") * F.col("s1") * F.col("s2")
            + F.lit(2.0) * F.col("s1") * F.col("s1") * F.col("s1")
        ).alias("b"),
        (
            F.col("n").cast("double") * F.col("n") * F.col("n") * F.col("s4")
            - F.lit(4.0) * F.col("n") * F.col("n") * F.col("s1") * F.col("s3")
            + F.lit(6.0) * F.col("n") * F.col("s1") * F.col("s1") * F.col("s2")
            - F.lit(3.0) * F.col("s1") * F.col("s1") * F.col("s1") * F.col("s1")
        ).alias("c"),
    )
    return m.where((F.col("n") >= 2) & (F.col("a") > 0)).select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        (F.expr(_JB) + F.lit(0.0)).alias("jb_stat"),
    )


# One-way ANOVA over the FIXED five market segments (the agg_chisq
# fixed-class technique one family over): per-class n/S1/S2 are exact
# int64 conditional sums in ONE global aggregate; SSB/SSW come from the
# classical identity  SSB = Sum_g S1_g^2/n_g - S1^2/N,
# SSW = S2 - Sum_g S1_g^2/n_g  evaluated as ONE fixed-order 5-term
# double expression shared verbatim with the oracle (never a SUM over
# double rows -> no merge-order drift).
_ANOVA_KEYS = [("AUTOMOBILE", "a"), ("BUILDING", "b"), ("FURNITURE", "f"),
               ("HOUSEHOLD", "h"), ("MACHINERY", "m")]
_ANOVA_SSQ = " + ".join(
    f"(CAST(s1_{k} AS DOUBLE) * s1_{k}) / n_{k}" for _, k in _ANOVA_KEYS
)
_ANOVA_F = snap_sql(
    f"((({_ANOVA_SSQ}) - (CAST(s1t AS DOUBLE) * s1t) / nt) / 4.0)"
    f" / ((CAST(s2t AS DOUBLE) - ({_ANOVA_SSQ}))"
    f" / (CAST(nt AS DOUBLE) - 5.0))", 4
)


@query(
    "agg_anova",
    oracle=f"""
    WITH base AS (
        SELECT c_mktsegment AS seg, CAST(floor(c_acctbal) AS BIGINT) AS x
        FROM customer
        WHERE c_acctbal IS NOT NULL AND c_mktsegment IN
              ('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY')
    ),
    g AS (
        SELECT
            {", ".join(
                f"CAST(count(*) FILTER (seg = '{s}') AS BIGINT) AS n_{k}, "
                f"CAST(COALESCE(SUM(x) FILTER (seg = '{s}'), 0) AS BIGINT)"
                f" AS s1_{k}, "
                f"CAST(COALESCE(SUM(x*x) FILTER (seg = '{s}'), 0) AS BIGINT)"
                f" AS s2_{k}"
                for s, k in _ANOVA_KEYS)}
        FROM base
    ),
    t AS (
        SELECT *,
               CAST(n_a + n_b + n_f + n_h + n_m AS BIGINT) AS nt,
               CAST(s1_a + s1_b + s1_f + s1_h + s1_m AS BIGINT) AS s1t,
               CAST(s2_a + s2_b + s2_f + s2_h + s2_m AS BIGINT) AS s2t
        FROM g
    )
    SELECT nt AS n_total, {_ANOVA_F} + 0 AS f_stat
    FROM t
    WHERE n_a >= 2 AND n_b >= 2 AND n_f >= 2 AND n_h >= 2 AND n_m >= 2
          AND CAST(s2t AS DOUBLE) - ({_ANOVA_SSQ}) > 0
    """,
)
def agg_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic of account balance across the five
    market segments — the k-sample mean-difference primitive next to
    agg_ttest (k=2) and agg_kruskal (rank-based).  Balances floor to
    exact int64 (negatives floor identically on both engines); per-class
    power sums are conditional sums in ONE map-side-combined global
    aggregate (no join of five filtered subqueries); the F identity is
    one fixed-order double tree shared verbatim with the oracle, snapped
    to 4 (+0 clears -0.0).  Overflow budget: |x| <= 1e4 so S1_g^2 is
    computed in DOUBLE (exactly-rounded square of an exact int64 —
    identical bits both engines); the int64 sums themselves are safe to
    ~1e11 rows/class.  Degenerate inputs (a class below 2 rows, zero
    within-class variance) yield no row."""
    c = load_table(spark, sf_dir, "customer")
    base = c.where(
        F.col("c_acctbal").isNotNull() & F.col("c_mktsegment").isin(SEGMENTS)
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.floor("c_acctbal").cast("long").alias("x"),
    )
    x = F.col("x")
    aggs = []
    for s, k in _ANOVA_KEYS:
        cond = F.col("seg") == s
        aggs.append(
            F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0)))
            .cast("long").alias(f"n_{k}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(cond, x).otherwise(F.lit(0))), F.lit(0)
            ).cast("long").alias(f"s1_{k}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(cond, x * x).otherwise(F.lit(0))), F.lit(0)
            ).cast("long").alias(f"s2_{k}")
        )
    g = base.agg(*aggs)
    t = g.select(
        "*",
        sum([F.col(f"n_{k}") for _, k in _ANOVA_KEYS[1:]],
            F.col("n_a")).alias("nt"),
        sum([F.col(f"s1_{k}") for _, k in _ANOVA_KEYS[1:]],
            F.col("s1_a")).alias("s1t"),
        sum([F.col(f"s2_{k}") for _, k in _ANOVA_KEYS[1:]],
            F.col("s2_a")).alias("s2t"),
    )
    guard = F.lit(True)
    for _, k in _ANOVA_KEYS:
        guard = guard & (F.col(f"n_{k}") >= 2)
    return t.where(
        guard & (F.expr(f"CAST(s2t AS DOUBLE) - ({_ANOVA_SSQ})") > 0)
    ).select(
        F.col("nt").alias("n_total"),
        (F.expr(_ANOVA_F) + F.lit(0.0)).alias("f_stat"),
    )


# Brown-Forsythe (median-centered Levene) over the three return-flag
# classes: lower medians come from the per-value collapse over
# running_counts (exact ints), |x - med| is exact int64, and the one-way
# ANOVA F over those deviations is the agg_anova fixed-order tree with
# k=3.  Zero floating point until the final shared expression.
_BF_SSQ = (
    "(CAST(s1_a AS DOUBLE) * s1_a) / n_a"
    " + (CAST(s1_n AS DOUBLE) * s1_n) / n_n"
    " + (CAST(s1_r AS DOUBLE) * s1_r) / n_r"
)
_BF_F = snap_sql(
    f"((({_BF_SSQ}) - (CAST(s1t AS DOUBLE) * s1t) / nt) / 2.0)"
    f" / ((CAST(s2t AS DOUBLE) - ({_BF_SSQ}))"
    f" / (CAST(nt AS DOUBLE) - 3.0))", 4
)


@query(
    "agg_levene",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag AS cls, CAST(floor(l_quantity) AS BIGINT) AS qi
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_returnflag IN ('A', 'N', 'R')
    ),
    per AS (
        SELECT cls, qi, CAST(count(*) AS BIGINT) AS cnt
        FROM base GROUP BY cls, qi
    ),
    cum AS (
        SELECT cls, qi, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY cls ORDER BY qi)
                    AS BIGINT) AS cw,
               CAST(SUM(cnt) OVER (PARTITION BY cls) AS BIGINT) AS ncls
        FROM per
    ),
    med AS (
        SELECT cls, MIN(qi) AS qm FROM cum WHERE 2 * cw >= ncls GROUP BY cls
    ),
    z AS (
        SELECT p.cls, p.cnt, abs(p.qi - m.qm) AS zv, m.qm
        FROM per p JOIN med m ON p.cls = m.cls
    ),
    g AS (
        SELECT
            CAST(COALESCE(SUM(cnt)       FILTER (cls = 'A'), 0) AS BIGINT) AS n_a,
            CAST(COALESCE(SUM(cnt*zv)    FILTER (cls = 'A'), 0) AS BIGINT) AS s1_a,
            CAST(COALESCE(SUM(cnt*zv*zv) FILTER (cls = 'A'), 0) AS BIGINT) AS s2_a,
            CAST(COALESCE(SUM(cnt)       FILTER (cls = 'N'), 0) AS BIGINT) AS n_n,
            CAST(COALESCE(SUM(cnt*zv)    FILTER (cls = 'N'), 0) AS BIGINT) AS s1_n,
            CAST(COALESCE(SUM(cnt*zv*zv) FILTER (cls = 'N'), 0) AS BIGINT) AS s2_n,
            CAST(COALESCE(SUM(cnt)       FILTER (cls = 'R'), 0) AS BIGINT) AS n_r,
            CAST(COALESCE(SUM(cnt*zv)    FILTER (cls = 'R'), 0) AS BIGINT) AS s1_r,
            CAST(COALESCE(SUM(cnt*zv*zv) FILTER (cls = 'R'), 0) AS BIGINT) AS s2_r,
            MIN(qm) FILTER (cls = 'A') AS med_a,
            MIN(qm) FILTER (cls = 'N') AS med_n,
            MIN(qm) FILTER (cls = 'R') AS med_r
        FROM z
    ),
    t AS (
        SELECT *, CAST(n_a + n_n + n_r AS BIGINT) AS nt,
               CAST(s1_a + s1_n + s1_r AS BIGINT) AS s1t,
               CAST(s2_a + s2_n + s2_r AS BIGINT) AS s2t
        FROM g
    )
    SELECT nt AS n_total, med_a, med_n, med_r, {_BF_F} + 0 AS bf_stat
    FROM t
    WHERE n_a >= 2 AND n_n >= 2 AND n_r >= 2
          AND CAST(s2t AS DOUBLE) - ({_BF_SSQ}) > 0
    """,
)
def agg_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-equality statistic (median-centered
    Levene) across the three return-flag classes — the robust companion
    to agg_anova's mean test.  Lower medians per class come from the
    per-value collapse over ``running_counts`` (exact int64,
    engine-order free); absolute deviations |x − med| stay integer;
    the one-way ANOVA F over the deviations is the fixed-order shared
    double tree (k=3), snapped to 4.  The Brown-Forsythe choice of
    the LOWER median (not the interpolated one) is deliberate: it keeps
    every intermediate exact.  Shuffle shape: one (cls, qi) groupBy, a
    cls-keyed window over the collapsed rows, a 3-row broadcast join
    back, one global conditional aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.where(
        F.col("l_quantity").isNotNull()
        & F.col("l_returnflag").isin("A", "N", "R")
    ).select(
        F.col("l_returnflag").alias("cls"),
        F.floor("l_quantity").cast("long").alias("qi"),
    )
    per = base.groupBy("cls", "qi").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    med = (
        running_counts(per, "cls", "qi")
        .where(2 * F.col("cw") >= F.col("n"))
        .groupBy("cls").agg(F.min("qi").alias("qm"))
    )
    z = per.join(F.broadcast(med), "cls").select(
        "cls", "cnt", F.abs(F.col("qi") - F.col("qm")).alias("zv"), "qm"
    )
    aggs = []
    for c, k in (("A", "a"), ("N", "n"), ("R", "r")):
        cond = F.col("cls") == c
        aggs.append(
            F.coalesce(
                F.sum(F.when(cond, F.col("cnt")).otherwise(F.lit(0))),
                F.lit(0),
            ).cast("long").alias(f"n_{k}")
        )
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(cond, F.col("cnt") * F.col("zv")).otherwise(F.lit(0))
                ),
                F.lit(0),
            ).cast("long").alias(f"s1_{k}")
        )
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(
                        cond, F.col("cnt") * F.col("zv") * F.col("zv")
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            ).cast("long").alias(f"s2_{k}")
        )
        aggs.append(
            F.min(F.when(cond, F.col("qm"))).alias(f"med_{k}")
        )
    g = z.agg(*aggs)
    t = g.select(
        "*",
        (F.col("n_a") + F.col("n_n") + F.col("n_r")).alias("nt"),
        (F.col("s1_a") + F.col("s1_n") + F.col("s1_r")).alias("s1t"),
        (F.col("s2_a") + F.col("s2_n") + F.col("s2_r")).alias("s2t"),
    )
    return t.where(
        (F.col("n_a") >= 2) & (F.col("n_n") >= 2) & (F.col("n_r") >= 2)
        & (F.expr(f"CAST(s2t AS DOUBLE) - ({_BF_SSQ})") > 0)
    ).select(
        F.col("nt").alias("n_total"),
        "med_a", "med_n", "med_r",
        (F.expr(_BF_F) + F.lit(0.0)).alias("bf_stat"),
    )


# Shannon entropy via the count identity H = ln(N) - (1/N)*Sum c*ln(c):
# per-class ln(c) snaps straight to int64 1e-8 units (the llm_lm_score
# rule — a transcendental per DISTINCT count, then an exact integer sum,
# so merge order can't move the total), and the final combination is
# one shared double tree.
_ENTROPY = snap_sql(
    "floor(ln(CAST(n AS DOUBLE)) * 100000000.0 + 0.5) / 100000000.0"
    " - CAST(sl AS DOUBLE) / (CAST(n AS DOUBLE) * 100000000.0)", 4
)


@query(
    "agg_entropy",
    oracle=f"""
    WITH c AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt
        FROM documents
        WHERE lang IS NOT NULL AND source IS NOT NULL
        GROUP BY source, lang
    ),
    t AS (
        SELECT source, CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(cnt * CAST(floor(ln(CAST(cnt AS DOUBLE))
                        * 100000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sl
        FROM c GROUP BY source
    )
    SELECT source, n AS n_docs, {_ENTROPY} + 0 AS lang_entropy
    FROM t
    """,
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of the language distribution per source —
    the mixture-diversity number every corpus card reports.  Uses the
    count identity H = ln N − (Σ c·ln c)/N: ln runs once per DISTINCT
    (source, lang) count and snaps immediately to exact int64 1e-8
    units (the llm_lm_score transcendental rule), so the per-source sum
    is merge-order-free; the final combination is one shared double
    tree snapped to 4.  NULL lang/source rows are excluded on both
    sides (domain pinning).  Shuffle shape: one (source, lang) groupBy
    collapses to class counts, one source groupBy on those few rows —
    both map-side combined.  Overflow: c·ln(c)·1e8 ≤ 2.8e9·c, int64-safe
    past 1e9 docs/source."""
    d = load_table(spark, sf_dir, "documents")
    c = (
        d.where(F.col("lang").isNotNull() & F.col("source").isNotNull())
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    li = F.floor(
        F.log(F.col("cnt").cast("double")) * 100000000.0 + 0.5
    ).cast("long")
    t = c.groupBy("source").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * li).alias("sl"),
    )
    return t.select(
        "source",
        F.col("n").alias("n_docs"),
        (F.expr(_ENTROPY) + F.lit(0.0)).alias("lang_entropy"),
    )


# Benford first-digit test: expected shares log10(1+1/d) are PYTHON
# literals (no engine transcendental at all — both engines parse the
# same shortest-repr decimal to the same double); observed counts are
# exact conditional int64s; chi-square is one fixed-order 9-term shared
# expression (the agg_chisq shape).
import math as _math

_BENFORD_P = {
    d: _math.floor(_math.log10(1 + 1 / d) * 1e8 + 0.5) / 1e8
    for d in range(1, 10)
}
_BENFORD_TERMS = " + ".join(
    f"pow(c{d} - CAST(nt AS DOUBLE) * {_BENFORD_P[d]!r}, 2)"
    f" / (CAST(nt AS DOUBLE) * {_BENFORD_P[d]!r})"
    for d in range(1, 10)
)
_BENFORD_CHI = snap_sql(_BENFORD_TERMS, 4)


@query(
    "agg_benford",
    oracle=f"""
    WITH base AS (
        SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                      1, 1) AS d
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1
    ),
    g AS (
        SELECT
            {", ".join(
                f"CAST(count(*) FILTER (d = '{d}') AS BIGINT) AS c{d}"
                for d in range(1, 10))},
            CAST(count(*) AS BIGINT) AS nt
        FROM base
    )
    SELECT nt AS n_orders, {_BENFORD_CHI} + 0 AS chi2_benford
    FROM g WHERE nt >= 1
    """,
)
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit chi-square over order totals —
    the classic fraud/data-quality screen.  The first digit comes from
    the decimal string of the floored value (no log10 on data — string
    truncation is bit-free); expected shares log10(1+1/d) are Python
    literals embedded identically in both dialects, so the only doubles
    are the final fixed-order 9-term chi-square tree (agg_chisq shape),
    snapped to 4.  Values below 1 are excluded on both sides (their
    first significant digit lives past the decimal point).  One
    map-side-combined global aggregate — a single 1-row exchange at any
    scale."""
    o = load_table(spark, sf_dir, "orders")
    base = o.where(
        F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") >= 1)
    ).select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        ).alias("d")
    )
    aggs = [
        F.sum(
            F.when(F.col("d") == str(d), F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias(f"c{d}")
        for d in range(1, 10)
    ]
    aggs.append(F.count(F.lit(1)).alias("nt"))
    g = base.agg(*aggs)
    return g.where(F.col("nt") >= 1).select(
        F.col("nt").alias("n_orders"),
        (F.expr(_BENFORD_CHI) + F.lit(0.0)).alias("chi2_benford"),
    )


# Herfindahl-Hirschman concentration: HHI = Sum_s (c_s/N)^2 = Ssq/N^2 —
# exact integer numerator and denominator, ONE double division.
_HHI = snap_sql("CAST(ssq AS DOUBLE) / (CAST(n AS DOUBLE) * n)", 4)


@query(
    "agg_hhi",
    oracle=f"""
    WITH c AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS cnt
        FROM documents
        WHERE lang IS NOT NULL AND source IS NOT NULL
        GROUP BY lang, source
    ),
    t AS (
        SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(cnt * cnt) AS BIGINT) AS ssq,
               CAST(COUNT(*) AS BIGINT) AS n_sources
        FROM c GROUP BY lang
    )
    SELECT lang, n AS n_docs, n_sources, {_HHI} + 0 AS hhi
    FROM t
    """,
)
def agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of sources within each
    language — the is-this-slice-dominated-by-one-crawl number next to
    agg_entropy's diversity: HHI = Σ(cₛ/N)² folds to ΣΣcₛ²/N², an exact
    integer fraction with ONE double division (identical operands both
    engines, snapped to 4) — zero transcendentals, zero accumulation
    order.  NULL lang/source excluded both sides.  Two tiny map-side-
    combined groupBys; Σc² ≤ N² budget (int64 to ~3e9 docs/lang)."""
    d = load_table(spark, sf_dir, "documents")
    c = (
        d.where(F.col("lang").isNotNull() & F.col("source").isNotNull())
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    t = c.groupBy("lang").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("ssq"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return t.select(
        "lang",
        F.col("n").alias("n_docs"),
        "n_sources",
        (F.expr(_HHI) + F.lit(0.0)).alias("hhi"),
    )
