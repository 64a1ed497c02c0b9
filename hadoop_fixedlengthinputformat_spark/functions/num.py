"""Cross-engine deterministic numeric helpers.

Per-row ``round(double, n)`` is FORBIDDEN in oracle'd queries: Spark
(java.math HALF_UP on the decimal expansion) and DuckDB (libm-based)
disagree on representation-boundary values, and the driver's value hash
needs bit-identical doubles.  ``snap`` is the sanctioned replacement —
``floor(x * 10^d + 0.5) / 10^d`` uses only exactly-rounded IEEE ops
(multiply, add, floor, divide), so any engine computing it over the same
input double produces the same bits.  Put the SAME formula in the DuckDB
oracle (see ``snap_sql``).

Transcendentals (``ln``, ``exp``, trig) differ between engines in the
last ulp, so snap them to 8 decimals BEFORE any further arithmetic
(the ``llm_bm25`` idf recipe), then snap the final result to 4.

MAGNITUDE RULE: Spark's ``floor(double)`` returns LONG and SATURATES at
int64 max, while DuckDB's stays DOUBLE — so ``snap(x, 8)`` silently
diverges once ``|x| > ~9.2e10`` (x*1e8 overflows the long).  Never snap
an un-normalized quantity whose magnitude grows with corpus size
(raw variance terms, un-divided sums): normalize first (divide by n or
n², work in per-row units) so every snapped operand is bounded by data
magnitude.  Found via agg_corr_matrix (stats_extras._corr_expr).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def running_counts(
    per: DataFrame, group: str | list[str], value: str, cnt: str = "cnt"
) -> DataFrame:
    """The exact-quantile "value ladder": ``per`` plus ``cw`` and ``n``.

    ``cw = sum(cnt) over (partition by group order by value)`` and
    ``n = sum(cnt) over (partition by group)``; ``group=[]`` is the
    global window.  ``value`` sorts ascending with NULLs first.

    Contract: ``per`` holds ONE row per ``(group, value)`` (a collapse
    ``groupBy(group, value).agg(count)``), so ``cw`` counts the rows at
    or below ``value``, ``cw - cnt`` the rows strictly below it, and
    ``2*cw - cnt + 1`` is twice the 1-based midrank of its ties.  The
    smallest value with ``100*cw >= p*n`` is the exact lower p-th
    percentile.  A window the caller never reads is pruned by Spark,
    so an unused ``n`` costs nothing.
    """
    group = [group] if isinstance(group, str) else list(group)
    return per.select(
        "*",
        F.sum(cnt).over(Window.partitionBy(*group).orderBy(value)).alias("cw"),
        F.sum(cnt).over(Window.partitionBy(*group)).alias("n"),
    )


def snap(col: Column, digits: int = 4) -> Column:
    """Round-half-up to ``digits`` decimals with exact IEEE ops only."""
    scale = 10 ** digits
    return F.floor(col * scale + 0.5) / scale


def snap_sql(expr: str, digits: int = 4) -> str:
    """The DuckDB-side twin of :func:`snap` (identical bit behavior)."""
    scale = 10 ** digits
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


def money_units(col: Column, digits: int) -> Column:
    """A fixed-point decimal column as exact integer units.

    The source columns are parquet doubles within 1e-9 of a
    ``digits``-decimal value, so round-to-integer after scaling is
    unambiguous and the result is EXACT on both engines.
    SQL twin: ``CAST(round(x * 10^d, 0) AS BIGINT)``.
    """
    return F.round(col * (10 ** digits), 0).cast("long")


def exact_revenue_sum(price: Column, one_minus_disc: Column) -> Column:
    """``sum(price * factor)`` in exact integer space.

    ``price`` carries ≤2 decimals and ``factor`` ≤4, so their exact
    product has ≤6 decimals — but summed as doubles, the group total can
    land on a TRUE 4-decimal tie (…X50000) where the engines' float
    summation error decides the rounding direction (the alt-seed
    tpch_q3 divergence).  Summing cent×basis-point integer units is
    exact and bit-identical; the final /1e6 is one exactly-rounded IEEE
    division on identical integers.

    Overflow budget: units product ≤ 1e11/row, int64 holds ~9.2e18 —
    fine to ~1e7 rows/group at these magnitudes; for 100 TB-scale groups
    cast the product to DECIMAL(38,0) before the sum (DuckDB already
    sums BIGINT into HUGEINT).
    """
    return (
        F.sum(money_units(price, 2) * money_units(one_minus_disc, 4))
        / F.lit(1_000_000.0)
    )


def exact_revenue_sum_sql(price: str, one_minus_disc: str) -> str:
    """DuckDB twin of :func:`exact_revenue_sum`."""
    return (
        f"sum(CAST(round(({price}) * 100, 0) AS BIGINT) * "
        f"CAST(round(({one_minus_disc}) * 10000, 0) AS BIGINT)) / 1000000.0"
    )
