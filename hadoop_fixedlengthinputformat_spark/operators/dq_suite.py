"""Round-12 data-quality suite — the dbt-style declarative checks a
100 TB ingestion pipeline runs before promoting a batch.

Nothing like these exists in the reference (SURVEY.md §2.2: it is a
scan layer); they extend the dq_* family (dq_audit / dq_freshness /
dq_drift / dq_referential in relational_extras.py) with the four
remaining classics: accepted-values domains, a null-profile census,
robust per-day row-count anomaly detection, and cross-table monetary
reconciliation.

Determinism recipes (CLAUDE.md rounds 3–8): NULLs are excluded from
domain checks on BOTH sides (dbt accepted_values semantics); ratios
divide by greatest(n, 1); medians/MADs use the integer-rank
min-value-at-threshold pick over ``running_counts``; money flows
through exact integer micro-dollar units (money_units); the only
doubles are final snapped ratios.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hadoop_fixedlengthinputformat_spark.functions.num import (
    money_units,
    running_counts,
    snap,
    snap_sql,
)
from hadoop_fixedlengthinputformat_spark.registry import query
from hadoop_fixedlengthinputformat_spark.tables import load_table


# --- dq_accepted_values -------------------------------------------------
# One row per declared domain check, dbt accepted_values semantics:
# NULL is not a violation (the not-null test owns that), a non-NULL
# value outside the declared set is.  The declared sets deliberately
# exclude one live value each ('error' events, 'P' orders) so the check
# exercises its violation path on every roll.

_AV_CHECKS = (
    # (check_name, table, column, accepted values)
    ("events.event_type", "events", "event_type",
     ("click", "view", "purchase", "login")),
    ("orders.o_orderstatus", "orders", "o_orderstatus", ("O", "F")),
    ("lineitem.l_returnflag", "lineitem", "l_returnflag", ("A", "N", "R")),
)


def _av_oracle() -> str:
    parts = []
    for name, table, col, vals in _AV_CHECKS:
        inlist = ", ".join(f"'{v}'" for v in vals)
        parts.append(f"""
    SELECT '{name}' AS check_name,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(COALESCE(SUM(CASE WHEN {col} IN ({inlist}) THEN 0 ELSE 1
                              END), 0)
                AS BIGINT) AS n_violations,
           COALESCE(SUM(CASE WHEN {col} IN ({inlist}) THEN 0 ELSE 1 END),
                    0) = 0
               AS passed
    FROM {table} WHERE {col} IS NOT NULL""")
    return "\n    UNION ALL\n".join(parts)


@query("dq_accepted_values", oracle=_av_oracle())
def dq_accepted_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-style accepted_values tests: one row per declared domain
    check with the non-NULL row count, the count of values outside the
    declared set, and a pass flag.  Each check is ONE map-side-combined
    aggregate collapsing its table to a single row before the 3-row
    union — the scan is the whole cost at any scale, and the checks
    over different tables are independent jobs Spark runs from one
    plan.  NULLs are excluded on BOTH sides (round-4 rule / dbt
    semantics: the not-null test owns NULL)."""
    outs = []
    for name, table, col, vals in _AV_CHECKS:
        t = load_table(spark, sf_dir, table).where(F.col(col).isNotNull())
        # COALESCE: SUM over zero rows is NULL on both engines; a check
        # with no non-NULL rows must pass vacuously (0 violations, true)
        viol = F.coalesce(
            F.sum(
                F.when(F.col(col).isin(*vals), F.lit(0)).otherwise(F.lit(1))
            ),
            F.lit(0),
        )
        outs.append(
            t.agg(
                F.count(F.lit(1)).alias("n_checked"),
                viol.alias("n_violations"),
            ).select(
                F.lit(name).alias("check_name"),
                "n_checked",
                "n_violations",
                (F.col("n_violations") == 0).alias("passed"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res


# --- dq_null_profile ----------------------------------------------------

_NP_COLS = (
    ("documents", ("doc_id", "text", "lang", "source", "n_chars")),
    ("events", ("user_id", "event_type", "value", "props")),
)

_NP_FRAC = snap_sql(
    "CAST(n_null AS DOUBLE) / CAST(greatest(n_rows, 1) AS DOUBLE)", 4
)


def _np_oracle() -> str:
    parts = []
    for table, cols in _NP_COLS:
        for c in cols:
            parts.append(f"""
    SELECT '{table}.{c}' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null
    FROM {table}""")
    body = "\n    UNION ALL\n".join(parts)
    return f"""
    WITH per AS ({body})
    SELECT col_name, n_rows, n_null, {_NP_FRAC} + 0 AS null_frac
    FROM per
    """


@query("dq_null_profile", oracle=_np_oracle())
def dq_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-census profile: one row per audited column with the row
    count, NULL count, and snapped NULL fraction — the completeness
    half of a dbt test suite (dq_accepted_values owns domains).  Each
    TABLE is scanned once: all of its per-column null counts ride one
    aggregate row that is then unpivoted driver-side into the
    per-column rows (a |columns|-row literal transform, not a shuffle).
    The fraction divides by greatest(n, 1) (round-4 ANSI rule) and
    snaps to 4 (+0 clears -0.0)."""
    outs = []
    for table, cols in _NP_COLS:
        t = load_table(spark, sf_dir, table)
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in cols:
            aggs.append(
                F.sum(
                    F.when(F.col(c).isNull(), F.lit(1)).otherwise(F.lit(0))
                ).alias(f"null_{c}")
            )
        one = t.agg(*aggs)
        # unpivot the single agg row with ONE stack() generator —
        # the per-column unionAll arms each re-evaluated `one`, so the
        # executed plan scanned every table once PER COLUMN (9 scans;
        # round 14 — now exactly one scan per table)
        pairs = ", ".join(f"'{table}.{c}', null_{c}" for c in cols)
        outs.append(
            one.select(
                "n_rows",
                F.expr(
                    f"stack({len(cols)}, {pairs}) AS (col_name, n_null)"
                ),
            ).select("col_name", "n_rows", "n_null")
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.select(
        "col_name",
        "n_rows",
        "n_null",
        (
            snap(
                F.col("n_null").cast("double")
                / F.greatest(F.col("n_rows"), F.lit(1)).cast("double"),
                4,
            )
            + F.lit(0.0)
        ).alias("null_frac"),
    )


# --- dq_row_count_anomaly -----------------------------------------------
# Robust per-day volume anomaly: z = (cnt - median) / (1.4826 * MAD),
# flagged past |z| > 3.5 (the Iglewicz–Hoaglin cutoff).  Median and MAD
# use the integer-rank min-value-at-threshold pick over the collapsed
# (value, occurrences) table — exact on both engines; the only double
# is the final snapped ratio.

# z expression shared verbatim with the Spark side: one double
# division of an exact int64 deviation by 1.4826 * max(MAD, 1),
# snapped to 4 (the snap() floor trick inlined).
_RCA_Z = "floor((CAST(daily.cnt - med.med AS DOUBLE) / (1.4826 * CAST(greatest(mad.mad, 1) AS DOUBLE))) * 10000 + 0.5) / 10000"


@query(
    "dq_row_count_anomaly",
    oracle=f"""
    WITH daily AS MATERIALIZED (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1
    ),
    perv AS (
        SELECT cnt AS v, CAST(count(*) AS BIGINT) AS k FROM daily GROUP BY cnt
    ),
    med AS (
        SELECT MIN(v) AS med FROM (
            SELECT v, SUM(k) OVER (ORDER BY v) AS cw,
                   SUM(k) OVER () AS n
            FROM perv
        ) WHERE 2 * cw >= n
    ),
    devs AS (
        SELECT abs(daily.cnt - med.med) AS dv FROM daily, med
    ),
    perd AS (
        SELECT dv, CAST(count(*) AS BIGINT) AS k FROM devs GROUP BY dv
    ),
    mad AS (
        SELECT MIN(dv) AS mad FROM (
            SELECT dv, SUM(k) OVER (ORDER BY dv) AS cw,
                   SUM(k) OVER () AS n
            FROM perd
        ) WHERE 2 * cw >= n
    )
    SELECT daily.day, daily.cnt AS n_events,
           CAST(daily.cnt - med.med AS BIGINT) AS deviation,
           {_RCA_Z} + 0 AS robust_z,
           abs({_RCA_Z}) > 3.5 AS is_anomaly
    FROM daily, med, mad
    """,
)
def dq_row_count_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day ingest-volume anomaly detection: each day's event count
    scored with the robust z-score (deviation from the median of daily
    counts over 1.4826·MAD) and flagged past the classical 3.5 cutoff —
    the volume test a pipeline runs before promoting a day's batch.
    The corpus collapses to |days| rows in ONE map-side-combined
    groupBy (epoch integer day buckets — the calendar-seam rule);
    median and MAD are integer-rank picks over that small table (two
    collapses over ``running_counts``);
    deviation stays exact int64 and only the final z ratio is a
    snapped double (MAD floored to 1 against degenerate all-equal
    rolls, identical both sides)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    # epoch integer day bucket (ts_vwap pattern; `div` truncates where
    # the oracle's `//` floors — they agree because event epochs are
    # positive on every roll)
    day = F.expr(
        "CAST(floor(CAST(CAST(ts AS TIMESTAMP) AS DOUBLE)) AS BIGINT)"
        " div 86400"
    )
    daily = ev.groupBy(day.alias("day")).agg(F.count(F.lit(1)).alias("cnt"))
    daily = daily.localCheckpoint(eager=False)  # consumed 3x below

    def _pick(df: DataFrame, col: str, out: str) -> DataFrame:
        perv = df.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("k")
        )
        # windowed input = |distinct per-day counts| <= |days| (fixed
        # by the time span) — single-partition is bounded
        cum = running_counts(perv, [], "v", cnt="k")
        return cum.where(2 * F.col("cw") >= F.col("n")).agg(
            F.min("v").alias(out)
        )

    med = _pick(daily, "cnt", "med")
    devs = daily.crossJoin(F.broadcast(med)).select(
        F.abs(F.col("cnt") - F.col("med")).alias("dv")
    )
    mad = _pick(devs, "dv", "mad")
    z = snap(
        (F.col("cnt") - F.col("med")).cast("double")
        / (F.lit(1.4826) * F.greatest(F.col("mad"), F.lit(1)).cast("double")),
        4,
    )
    return (
        daily.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .select(
            "day",
            F.col("cnt").alias("n_events"),
            (F.col("cnt") - F.col("med")).alias("deviation"),
            (z + F.lit(0.0)).alias("robust_z"),
            (F.abs(z) > 3.5).alias("is_anomaly"),
        )
    )


# --- dq_reconciliation --------------------------------------------------


@query(
    "dq_reconciliation",
    oracle="""
    WITH li AS (
        SELECT l_orderkey,
               CAST(SUM(
                   CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                   * (100 + CAST(round(l_tax * 100, 0) AS BIGINT))
                   * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
               ) AS BIGINT) AS li_micro
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_extendedprice IS NOT NULL
              AND l_tax IS NOT NULL AND l_discount IS NOT NULL
        GROUP BY l_orderkey
    ),
    j AS (
        SELECT o.o_orderstatus AS status,
               abs(li.li_micro
                   - CAST(round(o.o_totalprice * 100, 0) AS BIGINT) * 10000)
                   AS adiff
        FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus IS NOT NULL AND o.o_totalprice IS NOT NULL
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN adiff > 10000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_mismatch,
           CAST(MAX(adiff) AS BIGINT) AS max_abs_diff_micro
    FROM j GROUP BY status
    """,
)
def dq_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table monetary reconciliation: per order status, how many
    orders' header total disagrees (by more than one cent) with the
    recomputed Σ price·(1+tax)·(1−discount) over their line items — the
    classical ledger-vs-detail consistency audit.  Money never touches
    doubles: prices/taxes/discounts become exact integer units
    (money_units, 2 dp each), so the per-line product is an exact
    micro-dollar int64 (≤ ~1.1e11/line, Σ ≤ 7.7e11/order — documented
    budget) and the header total scales to the same units exactly.
    Shuffle shape: one map-side-combined groupBy(l_orderkey) collapses
    lineitem to |orders| rows, one equi-join on the order key (both
    sides key-partitioned, AQE balances skew), one |status|-row
    aggregate.  No broadcast of a corpus-growing side."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey").isNotNull()
        & F.col("l_extendedprice").isNotNull()
        & F.col("l_tax").isNotNull()
        & F.col("l_discount").isNotNull()
    )
    per = li.groupBy("l_orderkey").agg(
        F.sum(
            money_units(F.col("l_extendedprice"), 2)
            * (F.lit(100) + money_units(F.col("l_tax"), 2))
            * (F.lit(100) - money_units(F.col("l_discount"), 2))
        ).alias("li_micro")
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    j = o.join(per, per.l_orderkey == o.o_orderkey).select(
        F.col("o_orderstatus").alias("status"),
        F.abs(
            F.col("li_micro") - money_units(F.col("o_totalprice"), 2) * 10000
        ).alias("adiff"),
    )
    return j.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.when(F.col("adiff") > 10000, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_mismatch"),
        F.max("adiff").alias("max_abs_diff_micro"),
    )


# --- dq_unique_keys -------------------------------------------------------
# dbt "unique" tests — the fourth member of the declarative quartet
# (accepted_values / not_null via null_profile / relationships via
# referential / unique).  documents.doc_id is deliberately in the set:
# dup-id rolls carry real duplicates, so the check exercises its
# violation path; the TPC-H keys are honest primary keys.

_UK_CHECKS = (
    # (check_name, table, key column)
    ("orders.o_orderkey", "orders", "o_orderkey"),
    ("part.p_partkey", "part", "p_partkey"),
    ("customer.c_custkey", "customer", "c_custkey"),
    ("documents.doc_id", "documents", "doc_id"),
    ("embeddings.vec_id", "embeddings", "vec_id"),
)


def _uk_oracle() -> str:
    parts = []
    for name, table, key in _UK_CHECKS:
        parts.append(f"""
    SELECT '{name}' AS check_name,
           CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_dup_keys,
           COALESCE(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END), 0) = 0
               AS passed
    FROM (SELECT {key}, CAST(count(*) AS BIGINT) AS cnt
          FROM {table} WHERE {key} IS NOT NULL GROUP BY {key})""")
    return "\n    UNION ALL\n".join(parts)


@query("dq_unique_keys", oracle=_uk_oracle())
def dq_unique_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-style unique tests: one row per declared key with the
    non-NULL row count, distinct-key count, number of duplicated keys,
    and a pass flag.  Each check is a two-level aggregate: the
    groupBy(key) collapse is map-side combined and its exchange carries
    (8-byte key, partial count) pairs, then a 1-row rollup — at 100 TB
    the key collapse IS the canonical dedup-census shuffle and nothing
    wider moves.  NULL keys are excluded on BOTH sides (dbt semantics:
    the not-null test owns NULL); empty-check sums COALESCE to 0 so a
    vacuous check passes (the dq_accepted_values round-13 rule)."""
    outs = []
    for name, table, key in _UK_CHECKS:
        t = load_table(spark, sf_dir, table).where(F.col(key).isNotNull())
        per = t.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
        one = per.agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.coalesce(
                F.sum(F.when(F.col("cnt") > 1, F.lit(1)).otherwise(F.lit(0))),
                F.lit(0),
            ).alias("n_dup_keys"),
        )
        outs.append(
            one.select(
                F.lit(name).alias("check_name"),
                "n_rows",
                "n_distinct",
                "n_dup_keys",
                (F.col("n_dup_keys") == 0).alias("passed"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res


# --- dq_psi_drift ---------------------------------------------------------
# Population Stability Index per event_type between the two epoch-midpoint
# halves of the stream — THE production ML-monitoring drift metric
# (dq_drift profiles volume/rate/mean; PSI sees SHAPE changes those
# summaries miss).  10 fixed 20.00-wide value bins (cents // 2000,
# clamped to [0, 9] so the top bin is open-ended), Laplace-smoothed:
#   p_x[k] = (n_x[k] + 1) / (N_x + 10)
#   PSI    = sum_k (p_b[k] - p_a[k]) * ln(p_b[k] / p_a[k])
# Determinism (CLAUDE.md stats rules): bin counts are exact int64
# conditional sums pivoted into COLUMNS by the fixed bin index, so the
# PSI evaluates as ONE identically-parenthesized scalar tree shared
# verbatim with the oracle — never a double SUM whose merge order is
# unpinned; each ln snaps to 8 before any further math; the final PSI
# snaps to 4 (+0) and the drifted flag compares the SNAPPED value so
# both engines flip together.  Smoothing keeps every ln finite even
# when a type is entirely absent from one half ((0+1)/(0+10)).

_PSI_NBINS = 10
_PSI_WIDTH_CENTS = 2000


def _psi_sql() -> str:
    bin_sums = ",\n               ".join(
        f"CAST(SUM(CASE WHEN half = 0 AND bin = {k} THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS a_{k},\n               "
        f"CAST(SUM(CASE WHEN half = 1 AND bin = {k} THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS b_{k}"
        for k in range(_PSI_NBINS)
    )
    def pa(k: int) -> str:
        return f"(CAST(a_{k} + 1 AS DOUBLE) / (n_a + {_PSI_NBINS}))"

    def pb(k: int) -> str:
        return f"(CAST(b_{k} + 1 AS DOUBLE) / (n_b + {_PSI_NBINS}))"

    terms = " + ".join(
        f"(({pb(k)} - {pa(k)})"
        f" * ({snap_sql(f'ln({pb(k)} / {pa(k)})', 8)}))"
        for k in range(_PSI_NBINS)
    )
    return f"""
    WITH ev AS (
        SELECT event_type,
               epoch_us(ts) AS us,
               CAST(round(value * 100, 0) AS BIGINT) AS cents
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
          AND value IS NOT NULL
    ),
    span AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM ev),
    tagged AS (
        SELECT event_type,
               CASE WHEN us * 2 <= s.lo + s.hi THEN 0 ELSE 1 END AS half,
               least({_PSI_NBINS - 1},
                     greatest(cents, 0) // {_PSI_WIDTH_CENTS}) AS bin
        FROM ev, span s
    ),
    per AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
               {bin_sums}
        FROM tagged GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           {snap_sql(terms, 4)} + 0 AS psi,
           {snap_sql(terms, 4)} > 0.1 AS drifted
    FROM per
    """


@query("dq_psi_drift", oracle=_psi_sql())
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift check (see block comment above
    for the formula and determinism recipe).  Shuffle shape: one 1-row
    global span aggregate joined in (AQE broadcast, unhinted), then ONE
    map-side-combined event_type groupBy whose exchange carries |types|
    rows of 22 int64 partials — the corpus shuffles once; the PSI tree
    is pure scalar math on the collapsed row.  At 100x the bins stay
    10 and the exchange stays |types| rows."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(
            F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("value").isNotNull()
        )
        .select(
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            money_units(F.col("value"), 2).alias("cents"),
        )
    )
    span = ev.agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
    tagged = ev.crossJoin(span).select(
        "event_type",
        F.when(2 * F.col("us") <= F.col("lo") + F.col("hi"), 0)
        .otherwise(1)
        .alias("half"),
        F.least(
            F.lit(_PSI_NBINS - 1),
            F.expr(f"greatest(cents, 0) div {_PSI_WIDTH_CENTS}"),
        ).alias("bin"),
    )
    aggs = [
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_b"),
    ]
    for k in range(_PSI_NBINS):
        aggs.append(
            F.sum(
                F.when((F.col("half") == 0) & (F.col("bin") == k), 1)
                .otherwise(0)
            ).alias(f"a_{k}")
        )
        aggs.append(
            F.sum(
                F.when((F.col("half") == 1) & (F.col("bin") == k), 1)
                .otherwise(0)
            ).alias(f"b_{k}")
        )
    per = tagged.groupBy("event_type").agg(*aggs)

    def p(side: str, k: int):
        return (F.col(f"{side}_{k}") + 1).cast("double") / (
            F.col(f"n_{'a' if side == 'a' else 'b'}") + _PSI_NBINS
        )

    terms = [
        (p("b", k) - p("a", k)) * snap(F.log(p("b", k) / p("a", k)), 8)
        for k in range(_PSI_NBINS)
    ]
    psi_raw = terms[0]
    for t in terms[1:]:
        psi_raw = psi_raw + t
    psi = snap(psi_raw, 4)
    return per.select(
        "event_type",
        "n_a",
        "n_b",
        (psi + 0).alias("psi"),
        (psi > 0.1).alias("drifted"),
    )
