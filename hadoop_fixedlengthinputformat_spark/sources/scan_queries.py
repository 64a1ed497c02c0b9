"""A family — scan / source / sink queries (SURVEY.md §2.3-A).

The fixed-width scans round-trip driver parquet tables through the
``fixedlen`` source: parquet -> fixed-width bytes (fixture_gen.py) ->
``spark.read.format("fixedlen")`` -> typed columns, oracle-checked
against the original table.  Records are encoded in key order, so even
``record_offset`` (the reference's default key,
FixedLengthRecordReader.java:256-260) is SQL-predictable:
rank * recordLength.
"""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hadoop_fixedlengthinputformat_spark.registry import query
from hadoop_fixedlengthinputformat_spark.sources import fixedlen, fixture_gen
from hadoop_fixedlengthinputformat_spark.tables import configure, load_table


def read_fixed(
    spark: SparkSession, sf_dir: str, table: str, **extra: str
) -> DataFrame:
    configure(spark)
    fixedlen.register(spark)
    path = fixture_gen.fixed_file_for(sf_dir, table)
    record_length, spec, _ = fixture_gen.LAYOUTS[table]
    # One record-aligned split per core: min(defaultParallelism, records)
    # splits of ceil(records / splits) records.  The 128 MB cluster
    # default would put these small fixtures in one partition, and more
    # splits than cores only add Python tasks, each costing ~0.08 s of
    # fixed worker overhead against ~0.03 s/MB of decode: on a 4-core VM
    # the 6.6 MB sf0.01 lineitem full scan took 0.77 s at a 32-way target
    # and 0.21 s at 4 (warm session, noop sink).
    mpb = fixedlen.split_bytes_per_core(
        os.path.getsize(path),
        record_length,
        spark.sparkContext.defaultParallelism,
    )
    reader = (
        spark.read.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .option("maxPartitionBytes", str(mpb))
    )
    for k, v in extra.items():
        reader = reader.option(k, v)
    return reader.load(path)


@query(
    "scan_fixedlen",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_fixedlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width file -> typed columns (R1-R4 + layout decode)."""
    return read_fixed(spark, sf_dir, "nation", includeOffset="false")


@query(
    "scan_fixedlen_wide",
    oracle="""
    SELECT l_orderkey, l_linenumber, COALESCE(l_quantity, 0) AS l_quantity,
           l_returnflag, CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem
    """,
)
def scan_fixedlen_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """11-field lineitem layout incl. double(4) and date decode."""
    df = read_fixed(spark, sf_dir, "lineitem", includeOffset="false")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_returnflag",
        F.col("l_shipdate").alias("ship_date"),
    )


@query(
    "scan_fixedlen_key_offset",
    oracle="""
    SELECT (ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1) * 40 AS record_offset,
           n_nationkey
    FROM nation
    """,
)
def scan_fixedlen_key_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Default key = file-global byte offset (R5).  Fixture rows are
    written in n_nationkey order, so offset == rank * recordLength."""
    df = read_fixed(spark, sf_dir, "nation")
    return df.select("record_offset", "n_nationkey")


@query(
    "scan_fixedlen_key_slice",
    oracle="""
    SELECT lpad(CAST(n_nationkey AS VARCHAR), 5, '0') AS record_key_str, n_name
    FROM nation
    """,
)
def scan_fixedlen_key_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slice key [0,4] = the zero-padded nationkey digits (R6)."""
    df = read_fixed(
        spark, sf_dir, "nation", includeOffset="false", keyStartAt="0", keyEndAt="4"
    )
    return df.select(
        F.col("record_key").cast("string").alias("record_key_str"), "n_name"
    )


@query("scan_parquet", oracle="SELECT count(*) AS n_rows FROM lineitem")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@query(
    "sink_parquet",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write + re-read round trip through a parquet sink."""
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = os.path.join(tempfile.gettempdir(), "flif_sink_parquet")
    n.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@query(
    "sink_fixedlen",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def sink_fixedlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round trip through OUR sink: parquet -> fixedlen write -> fixedlen
    read (the reference has no OutputFormat; SURVEY §2.2)."""
    configure(spark)
    fixedlen.register(spark)
    record_length, spec, _ = fixture_gen.LAYOUTS["nation"]
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = os.path.join(tempfile.gettempdir(), "flif_sink_fixedlen")
    (
        n.coalesce(1)
        .write.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .mode("overwrite")
        .save(out)
    )
    return (
        spark.read.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .option("includeOffset", "false")
        .load(out)
    )


@query(
    "scan_fixedlen_gzip",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey,
           round(c_acctbal, 4) AS acctbal, c_mktsegment
    FROM customer
    """,
)
def scan_fixedlen_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip fixed-width file -> typed columns.  One whole-file partition
    (gzip is unsplittable); the reference instead rejects compressed input
    (FixedLengthRecordReader.java:148-152) — documented improvement,
    SURVEY.md §4 P4."""
    configure(spark)
    fixedlen.register(spark)
    path = fixture_gen.fixed_gzip_for(sf_dir, "customer")
    record_length, spec, _ = fixture_gen.LAYOUTS["customer"]
    df = (
        spark.read.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .option("includeOffset", "false")
        .load(path)
    )
    return df.select(
        "c_custkey", "c_name", "c_nationkey",
        F.round("c_acctbal", 4).alias("acctbal"), "c_mktsegment",
    )


@query(
    "sink_csv",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey,
           round(c_acctbal, 4) AS acctbal, c_mktsegment
    FROM customer
    """,
)
def sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write + schema-full re-read round trip (header, explicit schema
    on read — schema inference is a full extra pass you never want at
    100 TB)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey",
        F.round("c_acctbal", 4).alias("acctbal"), "c_mktsegment",
    )
    out = os.path.join(tempfile.gettempdir(), "flif_sink_csv")
    c.write.mode("overwrite").option("header", "true").csv(out)
    return spark.read.schema(
        "c_custkey bigint, c_name string, c_nationkey int, "
        "acctbal double, c_mktsegment string"
    ).option("header", "true").csv(out)


@query(
    "sink_json",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 4) AS total
    FROM orders
    """,
)
def sink_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write + explicit-schema re-read round trip."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round("o_totalprice", 4).alias("total"),
    )
    out = os.path.join(tempfile.gettempdir(), "flif_sink_json")
    o.write.mode("overwrite").json(out)
    return spark.read.schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, total double"
    ).json(out)


@query(
    "scan_binary_records_rdd",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_binary_records_rdd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1:1 RDD form (SURVEY §1.3): ``sc.binaryRecords`` — Spark's
    built-in FixedLengthBinaryInputFormat, itself descended from the
    reference patch via MAPREDUCE-1176 — bridged to a DataFrame of one
    BinaryType column, then decoded with JVM-side substring+trim+cast
    (no Python in the decode path).  Kept as the fallback for
    environments without the Python Data Source API; the ``fixedlen``
    source is the primary path (typed, Arrow-vectorized, offset/slice
    keys, split policy under our control)."""
    configure(spark)
    path = fixture_gen.fixed_file_for(sf_dir, "nation")
    record_length, spec, _ = fixture_gen.LAYOUTS["nation"]
    rdd = spark.sparkContext.binaryRecords(path, record_length)
    df = spark.createDataFrame(rdd.map(lambda b: (b,)), "value binary")
    rec = F.col("value").cast("string")
    return df.select(
        F.trim(F.substring(rec, 1, 5)).cast("int").alias("n_nationkey"),
        F.trim(F.substring(rec, 6, 30)).alias("n_name"),
        F.trim(F.substring(rec, 36, 5)).cast("int").alias("n_regionkey"),
    )


@query(
    "sink_orc",
    oracle="SELECT s_suppkey, s_name, s_nationkey FROM supplier",
)
def sink_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write + re-read round trip (the third columnar format beside
    parquet; schema travels with the file, no explicit read schema
    needed)."""
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    out = os.path.join(tempfile.gettempdir(), "flif_sink_orc")
    s.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@query(
    "sink_parquet_partitioned",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 4) AS total, o_orderstatus
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write (partitionBy o_orderstatus) + re-read
    with a partition-column filter.  At 100 TB this is THE layout lever:
    the filter prunes directories at planning time (PartitionFilters in
    the scan, asserted in tests) so non-matching partitions are never
    listed, opened, or read."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 4).alias("total"), "o_orderstatus"
    )
    out = os.path.join(tempfile.gettempdir(), "flif_sink_part_parquet")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    return (
        spark.read.parquet(out)
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "total", F.col("o_orderstatus").cast("string").alias("o_orderstatus"))
    )


@query(
    "scan_fixedlen_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(COALESCE(l_quantity, 0), 4) AS qty, l_returnflag
    FROM lineitem
    WHERE COALESCE(l_quantity, 0) < 10 AND l_returnflag IN ('A', 'R')
    """,
)
def scan_fixedlen_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate pushdown through the fixedlen source: the comparison and
    IN filters are handled INSIDE the reader (pushFilters -> Arrow-batch
    mask), so only matching rows cross the Python->JVM boundary and Spark
    plans no residual Filter.  The reference emits every record
    unconditionally (FixedLengthRecordReader.java:215-262)."""
    df = read_fixed(spark, sf_dir, "lineitem", includeOffset="false")
    return df.filter(
        (F.col("l_quantity") < 10) & F.col("l_returnflag").isin("A", "R")
    ).select(
        "l_orderkey", "l_linenumber",
        F.round("l_quantity", 4).alias("qty"), "l_returnflag",
    )


@query(
    "scan_fixedlen_pruned",
    oracle="""
    SELECT l_orderkey, l_linenumber, round(COALESCE(l_quantity, 0), 4) AS qty
    FROM lineitem
    """,
)
def scan_fixedlen_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual column pruning (round 2): the ``columns`` option decodes only
    3 of lineitem's 11 layout fields — fixed-width records are random-
    access by byte offset, so unrequested fields are never parsed and
    never cross the Python->JVM pipe.  Compensates for the Python Data
    Source API's missing pruneColumns hook (plans/NOTES.md); measured
    win over full decode recorded there."""
    df = read_fixed(
        spark, sf_dir, "lineitem",
        includeOffset="false",
        columns="l_orderkey,l_linenumber,l_quantity",
    )
    return df.select(
        "l_orderkey", "l_linenumber", F.round("l_quantity", 4).alias("qty")
    )


@query(
    "scan_fixedlen_directory",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_fixedlen_directory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory input: every file planned independently with per-file
    offsets — the FileInputFormat multi-file listing the reference
    inherits (SURVEY §3.2); marker files (_SUCCESS, .crc) are skipped."""
    configure(spark)
    fixedlen.register(spark)
    record_length, spec, _ = fixture_gen.LAYOUTS["nation"]
    src = fixture_gen.fixed_file_for(sf_dir, "nation")
    tag = os.path.basename(src).replace(".fixed", "")
    d = os.path.join(tempfile.gettempdir(), f"flif_dir_{tag}")
    done = os.path.join(d, "_ok")  # '_' prefix => invisible to the reader
    if not os.path.exists(done):
        os.makedirs(d, exist_ok=True)
        payload = open(src, "rb").read()
        half = (len(payload) // record_length // 2) * record_length
        with open(os.path.join(d, "a.fixed"), "wb") as f:
            f.write(payload[:half])
        with open(os.path.join(d, "b.fixed"), "wb") as f:
            f.write(payload[half:])
        open(done, "w").close()
    return (
        spark.read.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .option("includeOffset", "false")
        .load(d)
    )


@query(
    "sink_fixedlen_gzip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def sink_fixedlen_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed round trip through OUR sink: parquet -> gzip fixed-width
    write (option compression=gzip; byte-deterministic mtime=0 members) ->
    gzip fixedlen read.  Closes the loop scan_fixedlen_gzip opened: the
    reference REJECTS compressed input (FixedLengthRecordReader.java:
    148-152) and has no writer at all; here compressed fixed-width export
    is symmetric with ingest.  At 100 TB write many moderate .gz parts
    (one per partition, as here) so file-level parallelism replaces
    split-level parallelism on re-read."""
    configure(spark)
    fixedlen.register(spark)
    record_length, spec, _ = fixture_gen.LAYOUTS["nation"]
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = os.path.join(tempfile.gettempdir(), "flif_sink_fixedlen_gz")
    (
        n.coalesce(1)
        .write.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .option("compression", "gzip")
        .mode("overwrite")
        .save(out)
    )
    return (
        spark.read.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .option("includeOffset", "false")
        .load(out)
    )


@query(
    "sink_fixedlen_bz2",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def sink_fixedlen_bz2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bzip2 round trip through the sink+source (option compression=bz2).
    The reference defers compression to Hadoop's CompressionCodecFactory,
    so bzip2/xz fixed-width files are inputs its users actually have —
    the engine's codec layer is generic over gzip/bz2/xz stdlib streams
    (one whole-file partition each; alignment validated at EOF; bz2/xz
    carry no timestamps so the members are byte-deterministic without
    the gzip mtime=0 trick).  Same many-moderate-parts scale guidance
    as sink_fixedlen_gzip."""
    configure(spark)
    fixedlen.register(spark)
    record_length, spec, _ = fixture_gen.LAYOUTS["nation"]
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = os.path.join(tempfile.gettempdir(), "flif_sink_fixedlen_bz2")
    (
        n.coalesce(1)
        .write.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .option("compression", "bz2")
        .mode("overwrite")
        .save(out)
    )
    return (
        spark.read.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .option("includeOffset", "false")
        .load(out)
    )


@query(
    "scan_fixedlen_sorted",
    oracle="""
    SELECT COALESCE(c_custkey, 0) AS c_custkey,
           COALESCE(c_name, '') AS c_name,
           COALESCE(c_nationkey, 0) AS c_nationkey,
           round(COALESCE(c_acctbal, 0), 4) AS acctbal,
           COALESCE(c_mktsegment, '') AS c_mktsegment
    FROM customer
    WHERE COALESCE(c_custkey, 0) BETWEEN 40 AND 90
    """,
)
def scan_fixedlen_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-file bisection pruning (``sortedBy``): the fixture file
    ascends by c_custkey, so the pushed BETWEEN predicate binary-
    searches record boundaries at planning time — ~2·log2(n) single-
    record probes replace scanning the file, exploiting the random-
    access-by-ordinal property that defines fixed-width records
    (FLIF:276-298's arithmetic run backwards).  The row-level Arrow
    mask still applies, so results are identical to the unpruned scan;
    partition-count reduction is pinned in tests/test_sorted_scan.py.
    At 100 TB this is the key-range index a sorted feed carries for
    free: a selective key lookup reads KBs, not the file."""
    configure(spark)
    fixedlen.register(spark)
    path = fixture_gen.sorted_fixed_file_for(sf_dir, "customer")
    record_length, spec, _ = fixture_gen.LAYOUTS["customer"]
    df = (
        spark.read.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .option("sortedBy", "c_custkey")
        .option("includeOffset", "false")
        .load(path)
    )
    return df.filter(
        (F.col("c_custkey") >= 40) & (F.col("c_custkey") <= 90)
    ).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.round("c_acctbal", 4).alias("acctbal"),
        "c_mktsegment",
    )


@query(
    "sink_fixedlen_sorted",
    oracle="""
    SELECT COALESCE(c_custkey, 0) AS c_custkey,
           COALESCE(c_name, '') AS c_name,
           round(COALESCE(c_acctbal, 0), 4) AS acctbal
    FROM customer
    WHERE COALESCE(c_custkey, 0) BETWEEN 100 AND 400
    """,
)
def sink_fixedlen_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The writer side of sortedBy: repartitionByRange + sortWithin-
    Partitions produces part files that are each internally ascending
    with DISJOINT key ranges — exactly the shape the bisection scan
    prunes (files outside the probed range clamp to zero partitions;
    the matching file clamps to the key slice).  One range exchange,
    the standard cluster recipe for writing a key-indexed fixed-width
    feed.  Read back through sortedBy with a range predicate and
    compared to the source table."""
    configure(spark)
    fixedlen.register(spark)
    record_length, spec, _ = fixture_gen.LAYOUTS["customer"]
    c = load_table(spark, sf_dir, "customer").select(
        F.coalesce("c_custkey", F.lit(0)).alias("c_custkey"),
        F.coalesce("c_name", F.lit("")).alias("c_name"),
        F.coalesce("c_nationkey", F.lit(0)).alias("c_nationkey"),
        F.coalesce("c_acctbal", F.lit(0.0)).alias("c_acctbal"),
        F.coalesce("c_mktsegment", F.lit("")).alias("c_mktsegment"),
    )
    out = os.path.join(tempfile.gettempdir(), "flif_sink_fixedlen_sorted")
    (
        c.repartitionByRange(4, "c_custkey")
        .sortWithinPartitions("c_custkey")
        .write.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .mode("overwrite")
        .save(out)
    )
    df = (
        spark.read.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .option("sortedBy", "c_custkey")
        .option("includeOffset", "false")
        .load(out)
    )
    return df.filter(
        (F.col("c_custkey") >= 100) & (F.col("c_custkey") <= 400)
    ).select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 4).alias("acctbal"),
    )


@query(
    "sink_fixedlen_xz",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def sink_fixedlen_xz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xz/LZMA round trip through the sink+source (option
    compression=xz) — the third codec of the generic stdlib-stream
    layer, previously covered on the READ side only
    (scan_fixedlen_* accept .xz members; the reference rejects all
    compressed input, FixedLengthRecordReader.java:148-152).  xz
    members carry no timestamps, so the written bytes are
    deterministic without the gzip mtime=0 trick; whole-file
    partitions on re-read with EOF alignment validation.  Same
    many-moderate-parts scale guidance as sink_fixedlen_gzip."""
    configure(spark)
    fixedlen.register(spark)
    record_length, spec, _ = fixture_gen.LAYOUTS["nation"]
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = os.path.join(tempfile.gettempdir(), "flif_sink_fixedlen_xz")
    (
        n.coalesce(1)
        .write.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .option("compression", "xz")
        .mode("overwrite")
        .save(out)
    )
    return (
        spark.read.format("fixedlen")
        .option("recordLength", str(record_length))
        .option("layout", spec)
        .option("includeOffset", "false")
        .load(out)
    )
