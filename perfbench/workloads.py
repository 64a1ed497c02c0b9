"""The two workloads: what one pass runs, how each op is checked, and
which ops feed the end-to-end metrics.

* ``fixedlen`` — every fixed-width layer: the reference's own job (full,
  pushed-down, RECFM=VBS and AWS-tape scans: read, decode and the
  Python->JVM hand-off), then a write of ``lineitem`` through the
  ``fixedlen`` sink sorted by key with a stats sidecar, and seeded
  key-range and date-range lookups on what was written (encode, sink and
  planning-time pruning).
* ``analytics`` — operator and function queries over the seeded parquet
  (no fixed-width layer runs; the control for scan-layer changes).
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
from dataclasses import dataclass

import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql.datasource import GreaterThanOrEqual, LessThan, LessThanOrEqual

from hadoop_fixedlengthinputformat_spark.sources import awstape, fixedlen, fixture_gen, varlen
from hadoop_fixedlengthinputformat_spark.tables import load_table

LOOKUPS_PER_PASS = 4
DATE_BASE = dt.date(1995, 1, 1)  # gen_testdata's ship-date range: base + [0, 2500) days
DATE_SPAN_DAYS = 2500
DATE_WINDOW_DAYS = 7
KEY_WINDOW_SHARE = 1 / 200  # share of the order keys one key lookup covers
LOOKUP_COLS = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"]


@dataclass(frozen=True)
class Lookup:
    """One seeded lookup: an inclusive ``l_orderkey`` range or a
    ``[lo, hi)`` ship-date window."""

    kind: str  # "key" | "date"
    lo: object
    hi: object

    def column(self):
        if self.kind == "key":
            return F.col("l_orderkey").between(self.lo, self.hi)
        return (F.col("l_shipdate") >= F.lit(self.lo)) & (F.col("l_shipdate") < F.lit(self.hi))

    def filters(self) -> list:
        if self.kind == "key":
            return [
                GreaterThanOrEqual(("l_orderkey",), self.lo),
                LessThanOrEqual(("l_orderkey",), self.hi),
            ]
        return [GreaterThanOrEqual(("l_shipdate",), self.lo), LessThan(("l_shipdate",), self.hi)]

    def oracle_sql(self) -> str:
        if self.kind == "key":
            where = f"l_orderkey BETWEEN {self.lo} AND {self.hi}"
        else:
            where = (
                f"CAST(l_shipdate AS DATE) >= DATE '{self.lo}' "
                f"AND CAST(l_shipdate AS DATE) < DATE '{self.hi}'"
            )
        return (
            "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
            f"CAST(l_shipdate AS DATE) AS l_shipdate FROM lineitem WHERE {where}"
        )

    def describe(self) -> str:
        return f"{self.kind}:{self.lo}..{self.hi}"


class LookupGen:
    """Seeded stream of lookups alternating key ranges and date windows."""

    def __init__(self, seed: int, sf_dir: str):
        self.rng = random.Random(seed)
        self.n_orders = pq.read_metadata(os.path.join(sf_dir, "orders.parquet")).num_rows
        self.count = 0

    def next(self) -> Lookup:
        self.count += 1
        if self.count % 2:
            width = max(1, int(self.n_orders * KEY_WINDOW_SHARE))
            lo = self.rng.randint(1, max(1, self.n_orders - width))
            return Lookup("key", lo, lo + width - 1)
        lo = DATE_BASE + dt.timedelta(days=self.rng.randrange(DATE_SPAN_DAYS - DATE_WINDOW_DAYS))
        return Lookup("date", lo, lo + dt.timedelta(days=DATE_WINDOW_DAYS))


def _register_sources(spark) -> None:
    fixedlen.register(spark)
    varlen.register(spark)
    awstape.register(spark)


def _collect(df):
    return list(df.columns), df.collect()


class Workload:
    name = ""
    needs_fixtures = False
    queries: tuple[str, ...] = ()  # registered queries one pass runs, in order
    key_kinds: tuple[str, ...] = ()  # op kinds whose median is op_p50_s
    throughput_kinds: tuple[str, ...] = ()  # op kinds whose bytes/seconds give mb_per_s

    def begin(self, ctx) -> None:
        """Register the sources and build the per-run state the checks
        compare against (untimed)."""
        _register_sources(ctx.spark)

    def one_pass(self, ctx) -> None:
        """Run the registered queries; the first execution of each in a run
        is compared with its DuckDB oracle."""
        for name in self.queries:

            def body(name=name):
                df = ctx.queries[name](ctx.spark, ctx.inputs.sf_dir)
                return (df, *_collect(df))

            def check(result, name=name):
                df, columns, rows = result
                if name not in ctx.input_bytes:
                    ctx.input_bytes[name] = self.input_bytes(ctx, name, df)
                if name in ctx.checked:
                    return []
                ctx.checked.add(name)
                return ctx.checker.query(name, columns, rows)

            ctx.run_op(name, self.kind_of(name), body, check, lambda n=name: ctx.input_bytes[n])

    def kind_of(self, name: str) -> str:
        return "query"

    def input_bytes(self, ctx, name: str, df) -> int:
        return sum(os.path.getsize(p.removeprefix("file:")) for p in df.inputFiles())

    def end_to_end(self, ops: list) -> dict[str, float]:
        ok = [o for o in ops if o.ok] or ops
        passes: dict[int, float] = {}
        for o in ok:
            passes[o.pass_no] = passes.get(o.pass_no, 0.0) + o.seconds
        key = [o.seconds for o in ok if o.kind in self.key_kinds]
        thr = [o for o in ok if o.kind in self.throughput_kinds]
        return {
            "pass_s": statistics.median(passes.values()),
            "op_p50_s": statistics.median(key),
            "mb_per_s": sum(o.nbytes for o in thr) / 1e6 / sum(o.seconds for o in thr),
        }


class Fixedlen(Workload):
    name = "fixedlen"
    needs_fixtures = True
    queries = ("scan_fixedlen_wide", "scan_varlen_vbs", "scan_awstape")
    key_kinds = ("full_scan",)
    throughput_kinds = ("full_scan", "scan", "write")
    FILES = {
        "scan_fixedlen_wide": "lineitem_fixed",
        "scan_varlen_vbs": "documents_vbs",
        "scan_awstape": "documents_aws",
    }

    def kind_of(self, name: str) -> str:
        return "full_scan" if name == "scan_fixedlen_wide" else "scan"

    def input_bytes(self, ctx, name: str, df) -> int:
        return ctx.inputs.size(self.FILES[name])

    def _written(self, ctx) -> str:
        return os.path.join(ctx.inputs.work_dir, "written_lineitem")

    def _read_written(self, ctx, **extra):
        rl, spec, _ = fixture_gen.LAYOUTS["lineitem"]
        return (
            ctx.spark.read.format("fixedlen")
            .options(recordLength=str(rl), layout=spec, includeOffset="false", **extra)
            .load(self._written(ctx))
        )

    @staticmethod
    def _hash(df):
        """Row count and order-insensitive content hash."""
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"] or 0)

    def begin(self, ctx) -> None:
        super().begin(ctx)
        _, spec, _ = fixture_gen.LAYOUTS["lineitem"]
        cols = [f.split(":")[0] for f in spec.split(",")]
        src = load_table(ctx.spark, ctx.inputs.sf_dir, "lineitem").select(*cols)
        self.src = src.withColumn("l_shipdate", F.to_date("l_shipdate"))
        self.src_hash = self._hash(self.src)
        self.lookups = LookupGen(ctx.seed, ctx.inputs.sf_dir)

    def one_pass(self, ctx) -> None:
        super().one_pass(ctx)
        rl, spec, _ = fixture_gen.LAYOUTS["lineitem"]
        out = self._written(ctx)

        def write():
            (
                self.src.repartitionByRange(ctx.cores, "l_orderkey")
                .sortWithinPartitions("l_orderkey")
                .write.format("fixedlen")
                .mode("overwrite")
                .options(recordLength=str(rl), layout=spec, statsSidecar="true")
                .save(out)
            )

        def check_write(_result):
            got = self._hash(self._read_written(ctx))
            if got != self.src_hash:
                return [f"read-back (rows, hash) {got} != source {self.src_hash}"]
            return []

        def committed_bytes():
            return sum(
                os.path.getsize(os.path.join(out, f)) for f in os.listdir(out) if f.endswith(".fixed")
            )

        ctx.run_op("write_lineitem", "write", write, check_write, committed_bytes)
        for _ in range(LOOKUPS_PER_PASS):
            lk = self.lookups.next()

            def lookup(lk=lk):
                df = self._read_written(ctx, sortedBy="l_orderkey").filter(lk.column())
                return _collect(df.select(*LOOKUP_COLS))

            def check_lookup(result, lk=lk):
                return ctx.checker.sql(f"lookup {lk.describe()}", *result, lk.oracle_sql())

            ctx.run_op(f"lookup_{lk.kind}", "lookup", lookup, check_lookup, lambda: 0)


class Analytics(Workload):
    name = "analytics"
    queries = (
        "agg_groupby_hash",
        "join_sort_merge",
        "win_running_sum",
        "tpch_q5_local_supplier",
        "ts_gap_fill",
        "udf_scalar_pandas",
        "agg_percentile_exact",
        "agg_iqr_outliers",
        "graph_triangles",
        "llm_text_stats",
        "llm_knn_cosine",
    )
    key_kinds = ("query",)
    throughput_kinds = ("query",)


WORKLOADS = {w.name: w for w in (Fixedlen, Analytics)}
