"""Checkpoint-resume semantics: a restarted availableNow stream with the
same checkpoint must process ONLY files that arrived since the last run
(exactly-once across restarts — the contract production pipelines rely
on; stream_foreach_batch's oracle-checked run covers a single run)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest


def _write_chunk(spark, d, lo, hi):
    (
        spark.range(lo, hi)
        .select(F.col("id").alias("event_id"), (F.col("id") % 7).alias("user_id"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(d, f"chunk-{lo}-{hi}"))
    )


def test_stream_fixedlen_sink_restart_is_idempotent(spark, tmp_path):
    """Re-running the fixedlen streaming sink with the same checkpoint
    must not duplicate records: batch-id-keyed file names make a replay
    overwrite its own output, and a no-new-data restart adds nothing."""
    from hadoop_fixedlengthinputformat_spark.sources import fixedlen

    fixedlen.register(spark)
    src = str(tmp_path / "src")
    _write_chunk(spark, src, 0, 120)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    layout = "event_id:0:12:long,user_id:12:10:long"

    def run():
        q = (
            spark.readStream.schema("event_id long, user_id long")
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.format("fixedlen")
            .option("recordLength", "22")
            .option("layout", layout)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(out)
        )
        q.awaitTermination()

    def read_back():
        return (
            spark.read.format("fixedlen")
            .option("recordLength", "22")
            .option("layout", layout)
            .option("includeOffset", "false")
            .load(out)
        )

    run()
    assert read_back().count() == 120
    run()  # restart, no new data
    assert read_back().count() == 120
    _write_chunk(spark, src, 120, 200)
    run()
    df = read_back()
    assert df.count() == 200
    assert df.select("event_id").distinct().count() == 200


def _write_typed_chunk(spark, d, lo, hi):
    """Chunks with a genuinely variable-length tail column."""
    (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("event_id"),
            (F.col("id") % 7).alias("user_id"),
            F.expr(
                "repeat(chr(65 + CAST(id % 26 AS INT)),"
                " CAST(1 + id % 19 AS INT))"
            ).alias("event_type"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(d, f"chunk-{lo}-{hi}"))
    )


def _sink_restart_roundtrip(spark, tmp_path, fmt: str, extra: dict):
    """Shared body for the varlen/awstape streaming-sink restart tests:
    same contract as the fixedlen one — batch-id-keyed names make a
    replay overwrite its own output; a no-new-data restart adds
    nothing; a new chunk appends exactly once."""
    from hadoop_fixedlengthinputformat_spark.sources import awstape, varlen

    varlen.register(spark)
    awstape.register(spark)
    src = str(tmp_path / "src")
    _write_typed_chunk(spark, src, 0, 120)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    layout = "event_id:0:12:long,user_id:12:10:long"

    def opt(x):
        x = (
            x.option("prefixLength", "22")
            .option("layout", layout)
            .option("tailColumn", "event_type")
        )
        for k, v in extra.items():
            x = x.option(k, v)
        return x

    def run():
        q = (
            opt(
                spark.readStream.schema(
                    "event_id long, user_id long, event_type string"
                )
                .option("recursiveFileLookup", "true")
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
                .writeStream.format(fmt)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(out)
        )
        q.awaitTermination()

    def read_back():
        return opt(
            spark.read.format(fmt).option("includeOffset", "false")
        ).load(out)

    run()
    assert read_back().count() == 120
    run()  # restart, no new data
    assert read_back().count() == 120
    _write_typed_chunk(spark, src, 120, 200)
    run()
    df = read_back()
    assert df.count() == 200
    assert df.select("event_id").distinct().count() == 200
    # the variable tail round-trips byte-exact
    got = {
        (r.event_id, bytes(r.event_type).decode())
        for r in df.select("event_id", "event_type").collect()
    }
    want = {(i, chr(65 + i % 26) * (1 + i % 19)) for i in range(200)}
    assert got == want


def test_stream_varlen_sink_restart_is_idempotent(spark, tmp_path):
    """VERDICT r12 #5: the RDW streaming sink honors the same
    batch-id-keyed replay contract as the fixedlen one, index sidecars
    included."""
    _sink_restart_roundtrip(
        spark, tmp_path, "varlen", {"indexEvery": "32"}
    )
    # every committed part carries its splittability sidecar
    import glob

    parts = glob.glob(str(tmp_path / "out" / "batch-*.rdw"))
    assert parts, "no committed rdw parts"
    for p in parts:
        assert os.path.exists(p + ".rdx.json"), p


def test_stream_varlen_sink_vbs_restart_is_idempotent(spark, tmp_path):
    """Spanned-blocked (VBS) records through the streaming sink: the
    recfm matrix the batch writer supports is available to streams."""
    _sink_restart_roundtrip(
        spark,
        tmp_path,
        "varlen",
        {"recfm": "vbs", "blockSize": "256", "segmentSize": "64"},
    )


def test_stream_awstape_sink_restart_is_idempotent(spark, tmp_path):
    """VERDICT r12 #5: the AWS-tape streaming sink — each batch
    partition a complete tape image — honors the batch-id-keyed replay
    contract."""
    _sink_restart_roundtrip(
        spark, tmp_path, "awstape", {"chunkSize": "64"}
    )


@pytest.mark.parametrize(
    "case",
    ["lineSep", "compression", "statsSidecar", "partitionBy", "raw"],
)
def test_stream_fixedlen_sink_honors_write_options(spark, tmp_path, case):
    """The fixedlen streaming sink runs the batch writer, so every write
    option the batch sink accepts reaches the streamed part files: line
    terminators, codecs, stats sidecars, hive partition directories and
    raw ``value`` rows.  Each case reads back the source rows with the
    same options it wrote with."""
    from hadoop_fixedlengthinputformat_spark.sources import fixedlen

    fixedlen.register(spark)
    src = str(tmp_path / "src")
    (
        spark.range(20)
        .select(F.col("id").alias("k"), (F.col("id") % 2).alias("g"))
        .coalesce(1)
        .write.parquet(src)
    )
    out = str(tmp_path / "out")
    opts = {"recordLength": "6", "layout": "k:0:6:long"}
    cols = [F.col("k")]
    want = {(i,) for i in range(20)}
    if case == "lineSep":
        opts["lineSep"] = "\n"
    elif case == "compression":
        opts["compression"] = "gzip"
    elif case == "statsSidecar":
        opts["statsSidecar"] = "true"
    elif case == "partitionBy":
        opts["partitionBy"] = "g"
        cols.append(F.col("g"))
        want = {(i, str(i % 2)) for i in range(20)}
    else:
        del opts["layout"]
        cols = [F.format_string("%06d", "k").cast("binary").alias("value")]
        want = {(f"{i:06d}".encode(),) for i in range(20)}

    w = (
        spark.readStream.schema("k long, g long").parquet(src)
        .select(*cols)
        .writeStream.format("fixedlen")
    )
    for k, v in opts.items():
        w = w.option(k, v)
    q = (
        w.option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination()

    r = spark.read.format("fixedlen").option("includeOffset", "false")
    for k, v in opts.items():
        r = r.option(k, v)
    got = [
        tuple(bytes(x) if isinstance(x, (bytes, bytearray)) else x for x in row)
        for row in r.load(out).collect()
    ]
    assert sorted(got) == sorted(want)

    parts = [
        os.path.join(root, fn)
        for root, _dirs, files in os.walk(out)
        for fn in files
        if fn.startswith("batch-") and ".stats." not in fn
    ]
    assert parts
    if case == "lineSep":
        assert sum(os.path.getsize(p) for p in parts) == 20 * 7
    elif case == "compression":
        assert all(p.endswith(".fixed.gz") for p in parts), parts
    elif case == "statsSidecar":
        assert all(os.path.exists(p + ".stats.json") for p in parts), parts
    elif case == "partitionBy":
        assert sorted(
            d for d in os.listdir(out) if not d.startswith((".", "_"))
        ) == ["g=0", "g=1"]
        assert all(
            os.path.basename(os.path.dirname(p)) in ("g=0", "g=1")
            for p in parts
        ), parts


def _write_event_chunk(spark, d, lo, hi):
    """Events with interleaved view/purchase types and close timestamps
    so the 10-minute interval join has matches inside every chunk."""
    (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("event_id"),
            (F.col("id") % 5).alias("user_id"),
            F.when(F.col("id") % 2 == 0, "view").otherwise("purchase").alias(
                "event_type"
            ),
            (
                F.lit("2024-01-01 00:00:00").cast("timestamp")
                + F.make_interval(secs=(F.col("id") * 60).cast("double"))
            ).alias("ts"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(d, f"chunk-{lo}-{hi}"))
    )


def test_stream_stream_join_restart_is_idempotent(spark, tmp_path):
    """The watermarked interval join replayed across restarts: a restart
    with no new data adds no rows, and after a second chunk + restart
    the appended result equals the batch time-interval join of ALL data
    (exactly-once across the two runs — VERDICT r3 order #8)."""
    src = str(tmp_path / "ev_src")
    out_dir = str(tmp_path / "ssj_out")
    ckpt = str(tmp_path / "ssj_ckpt")
    _write_event_chunk(spark, src, 0, 60)

    def run():
        views = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, ts timestamp"
            )
            .option("recursiveFileLookup", "true")
            .parquet(src)
            .filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                "user_id",
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", "30 minutes")
        )
        purchases = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, ts timestamp"
            )
            .option("recursiveFileLookup", "true")
            .parquet(src)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "30 minutes")
        )
        joined = views.join(
            purchases,
            (views.user_id == purchases.p_user)
            & (purchases.p_ts >= views.v_ts)
            & (purchases.p_ts <= views.v_ts + F.expr("INTERVAL 10 MINUTES")),
            "inner",
        ).select("view_id", "purchase_id", "user_id")
        q = (
            joined.writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(out_dir)
        )
        q.awaitTermination()

    def batch_expected():
        ev = spark.read.option("recursiveFileLookup", "true").parquet(src)
        v = ev.filter("event_type = 'view'").selectExpr(
            "event_id AS view_id", "user_id", "ts AS v_ts"
        )
        p = ev.filter("event_type = 'purchase'").selectExpr(
            "event_id AS purchase_id", "user_id AS p_user", "ts AS p_ts"
        )
        return (
            v.join(
                p,
                (v.user_id == p.p_user)
                & (p.p_ts >= v.v_ts)
                & (p.p_ts <= v.v_ts + F.expr("INTERVAL 10 MINUTES")),
            )
            .select("view_id", "purchase_id", "user_id")
        )

    def read_out():
        return spark.read.parquet(out_dir)

    run()
    n1 = read_out().count()
    assert n1 > 0
    run()  # restart, no new data: nothing replays
    assert read_out().count() == n1
    _write_event_chunk(spark, src, 60, 100)
    run()  # restart: processes ONLY the new chunk
    got = {tuple(r) for r in read_out().collect()}
    want = {tuple(r) for r in batch_expected().collect()}
    assert len(got) == read_out().count()  # no duplicate emits
    # note: rows whose match straddles the restart boundary are joined
    # because BOTH sides re-read the full directory listing state from
    # the checkpoint; the final multiset must equal the batch join
    assert got == want


def test_available_now_resumes_from_checkpoint(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "target")
    _write_chunk(spark, src, 0, 100)
    _write_chunk(spark, src, 100, 250)

    def run():
        batches = []

        def sink(batch_df, batch_id):
            batches.append(batch_df.count())
            batch_df.write.mode("append").parquet(target)

        q = (
            spark.readStream.schema("event_id long, user_id long")
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return batches

    first = run()
    assert sum(first) == 250
    # restart with NO new data: zero rows may flow, never a reprocess
    second = run()
    assert sum(second) == 0
    # new chunk arrives; restart processes ONLY it
    _write_chunk(spark, src, 250, 300)
    third = run()
    assert sum(third) == 50
    total = spark.read.parquet(target).count()
    assert total == 300  # no duplicates across the three runs
    assert spark.read.parquet(target).select("event_id").distinct().count() == 300


def test_directory_stream_crash_midbatch_under_concurrent_growth(spark, tmp_path):
    """Chaos restart (VERDICT r8 #9): kill the partitionedStream
    directory query MID-BATCH — after the sink wrote batch 0 but
    before the checkpoint commit — then grow the directory (append to
    a known file + drop a new file) while the query is down.  The
    first restart must replay batch 0 with the SAME offset range the
    offsets WAL pinned — NOT the grown files (so an idempotent
    per-batch-id overwrite sink yields no duplicates, and uncommitted
    work is never silently widened); Python streaming sources run
    availableNow as single-batch execution, so the growth is the NEXT
    run's batch 1.  Exactly-once end to end across crash + 2 restarts."""
    from hadoop_fixedlengthinputformat_spark.sources import fixedlen

    fixedlen.register(spark)
    src = str(tmp_path / "csrc")
    os.makedirs(src)
    rec = lambda i: f"{i:08d}".encode()  # noqa: E731
    with open(os.path.join(src, "a.fixed"), "wb") as f:
        f.write(b"".join(rec(i) for i in range(10)))
    with open(os.path.join(src, "b.fixed"), "wb") as f:
        f.write(b"".join(rec(i) for i in range(100, 105)))

    out = str(tmp_path / "cout")
    ckpt = str(tmp_path / "cckpt")
    crashes = []

    def run(poison: bool):
        def sink(batch_df, batch_id):
            # idempotent sink: batch-id-keyed overwrite, the pattern
            # the engine's own fixedlen sink uses for replay safety
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out, f"batch={batch_id}")
            )
            if poison and not crashes:
                crashes.append(batch_id)
                raise RuntimeError("injected mid-batch crash")

        q = (
            spark.readStream.format("fixedlen")
            .option("recordLength", "8")
            .option("layout", "v:0:8:int")
            .option("partitionedStream", "true")
            .option("includeOffset", "false")
            .load(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            assert not poison, "poisoned run should have crashed"
        except Exception:
            assert poison, "clean run crashed"

    run(poison=True)
    assert crashes == [0]
    # the query is down with batch 0 sunk but uncommitted; the
    # directory grows concurrently
    with open(os.path.join(src, "a.fixed"), "ab") as f:
        f.write(b"".join(rec(i) for i in range(10, 13)))
    with open(os.path.join(src, "c.fixed"), "wb") as f:
        f.write(b"".join(rec(i) for i in range(200, 203)))

    run(poison=False)
    # replay is pinned to the WAL offsets: EXACTLY the pre-crash 15
    # records, none of the growth leaks into the replayed batch
    vals1 = sorted(r.v for r in spark.read.parquet(out).select("v").collect())
    assert vals1 == sorted(list(range(10)) + list(range(100, 105)))

    run(poison=False)  # next trigger: the growth arrives as batch 1
    vals2 = sorted(r.v for r in spark.read.parquet(out).select("v").collect())
    want = sorted(
        list(range(13)) + list(range(100, 105)) + list(range(200, 203))
    )
    assert vals2 == want  # every record exactly once, growth included


def test_directory_stream_picks_up_new_files_and_appends(spark, tmp_path):
    """Directory streaming (partitionedStream over a dir): run 1 ingests
    the initial files; run 2 with the same checkpoint processes ONLY the
    delta — a brand-new file, bytes appended to a known file, and a
    newly-dropped immutable .gz member."""
    import gzip

    from hadoop_fixedlengthinputformat_spark.sources import fixedlen

    fixedlen.register(spark)
    src = str(tmp_path / "dsrc")
    os.makedirs(src)
    rec = lambda i: f"{i:08d}".encode()  # noqa: E731

    with open(os.path.join(src, "a.fixed"), "wb") as f:
        f.write(b"".join(rec(i) for i in range(10)))
    with open(os.path.join(src, "b.fixed"), "wb") as f:
        f.write(b"".join(rec(i) for i in range(100, 105)))

    out = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")

    def run():
        q = (
            spark.readStream.format("fixedlen")
            .option("recordLength", "8")
            .option("layout", "v:0:8:int")
            .option("partitionedStream", "true")
            .option("includeOffset", "false")
            .load(src)
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    got1 = sorted(r.v for r in spark.read.parquet(out).collect())
    assert got1 == list(range(10)) + list(range(100, 105))

    # delta: append to a known file, add a new file, drop a gzip member
    with open(os.path.join(src, "a.fixed"), "ab") as f:
        f.write(b"".join(rec(i) for i in range(10, 13)))
    with open(os.path.join(src, "c.fixed"), "wb") as f:
        f.write(b"".join(rec(i) for i in range(200, 203)))
    with gzip.open(os.path.join(src, "d.fixed.gz"), "wb") as f:
        f.write(b"".join(rec(i) for i in range(300, 302)))

    run()
    got2 = sorted(r.v for r in spark.read.parquet(out).collect())
    assert got2 == sorted(
        list(range(13)) + list(range(100, 105))
        + list(range(200, 203)) + list(range(300, 302))
    )


def test_varlen_tail_drains_backlog_larger_than_batch_cap(spark, tmp_path):
    """Round-9 sf1 soak regression: the tail readers cap each
    micro-batch at READ_CHUNK_TARGET (16 MB), and Spark runs
    availableNow on Python sources as a SINGLE-batch fallback — so a
    backlog bigger than one cap silently truncated (sf1 ingested
    48,571 of 500,000 records).  Pin the fix: a >16 MB RDW file must
    ingest COMPLETELY through the multi-batch drain
    (processAllAvailable), i.e. strictly more than one capped batch."""
    import struct

    from hadoop_fixedlengthinputformat_spark.sources import varlen
    from hadoop_fixedlengthinputformat_spark.sources.fixture_gen import (
        RDW_PREFIX_LAYOUT,
        RDW_PREFIX_LEN,
    )
    from hadoop_fixedlengthinputformat_spark.streaming.stream_queries import (
        _drain_to_table,
    )

    varlen.register(spark)
    path = str(tmp_path / "big.rdw")
    n, tail_len = 40_000, 500  # ~21 MB total: > one 16 MB batch cap
    with open(path, "wb") as f:
        chunks = []
        for i in range(n):
            prefix = (
                f"{i:08d}" + "en" + "src000" + f"{tail_len:06d}"
            ).encode()
            assert len(prefix) == RDW_PREFIX_LEN
            tail = bytes([65 + i % 26]) * tail_len
            rec = struct.pack(
                ">HH", 4 + RDW_PREFIX_LEN + len(tail), 0
            ) + prefix + tail
            chunks.append(rec)
        f.write(b"".join(chunks))

    src = (
        spark.readStream.format("varlen")
        .option("prefixLength", str(RDW_PREFIX_LEN))
        .option("layout", RDW_PREFIX_LAYOUT)
        .option("includeOffset", "false")
        .load(path)
    )
    out = _drain_to_table(src.select("doc_id"), "append")
    assert out.count() == n
    assert out.select("doc_id").distinct().count() == n


# ---------------------------------------------------------------------------
# Round-10 (VERDICT r9 #8): property-test the tail-family drain beyond the
# single >cap fixture — randomized file-growth schedules (append sizes,
# record sizes, crash points) against the real streaming admission path,
# asserting exactly-once record sets for every tail container format.
# ---------------------------------------------------------------------------

import random
import struct

from hadoop_fixedlengthinputformat_spark.sources.fixture_gen import (
    RDW_PREFIX_LAYOUT,
    RDW_PREFIX_LEN,
)


def _tail_prefix(doc_id: int, tail_len: int) -> bytes:
    p = (f"{doc_id:08d}" + "en" + "src000" + f"{tail_len:06d}").encode()
    assert len(p) == RDW_PREFIX_LEN
    return p


def _rdw_append(recs) -> bytes:
    """RECFM=V: each record is >HH(total,0) + prefix + tail."""
    out = bytearray()
    for doc_id, tail in recs:
        out += struct.pack(">HH", 4 + RDW_PREFIX_LEN + len(tail), 0)
        out += _tail_prefix(doc_id, len(tail)) + tail
    return bytes(out)


def _vbs_append(recs, block_size=512, seg_cap=124) -> bytes:
    """RECFM=VBS: split each record into SDW segments (codes 0/1/3/2),
    pack greedily into BDW blocks; every append ends on a block
    boundary so concatenated appends form one valid spanned file.
    Written independently of fixture_gen's encoder on purpose (an
    encoder bug shared with the fixture would hide)."""
    segs: list[bytes] = []
    for doc_id, tail in recs:
        payload = _tail_prefix(doc_id, len(tail)) + tail
        pieces = [
            payload[i : i + seg_cap] for i in range(0, len(payload), seg_cap)
        ]
        for j, p in enumerate(pieces):
            first, last = j == 0, j == len(pieces) - 1
            code = 0 if first and last else 1 if first else 2 if last else 3
            segs.append(struct.pack(">HBB", 4 + len(p), code, 0) + p)
    blocks, block = bytearray(), bytearray()
    for s in segs:
        if 4 + len(block) + len(s) > block_size:
            blocks += struct.pack(">HH", 4 + len(block), 0) + block
            block = bytearray()
        block += s
    if block:
        blocks += struct.pack(">HH", 4 + len(block), 0) + block
    return bytes(blocks)


class _AwsAppender:
    """RECFM=U AWS chains; the backspace-chain value (prev chunk length)
    threads across appends, so growth must come through ONE appender."""

    def __init__(self, chunk: int = 100):
        self.prev = 0
        self.chunk = chunk

    def append(self, recs) -> bytes:
        out = bytearray()
        for doc_id, tail in recs:
            block = _tail_prefix(doc_id, len(tail)) + tail
            view = memoryview(block)
            first = True
            while True:
                take = min(len(view), self.chunk)
                piece = bytes(view[:take])
                view = view[take:]
                last = len(view) == 0
                flags1 = (0x80 if first else 0) | (0x20 if last else 0)
                out += struct.pack("<HHBB", len(piece), self.prev, flags1, 0)
                out += piece
                self.prev = len(piece)
                first = False
                if last:
                    break
        return bytes(out)

    def close(self) -> bytes:
        return struct.pack("<HHBB", 0, self.prev, 0x40, 0) + struct.pack(
            "<HHBB", 0, 0, 0x40, 0
        )


def _drive_tail_schedule(spark, tmp_path, fmt: str, seed: int) -> None:
    """Grow a tail file through a seed-randomized append schedule with
    one crash (stop + same-checkpoint restart) at a random point —
    possibly mid-batch, that's the point — and assert the drained
    output is EXACTLY the appended record set, once each."""
    from hadoop_fixedlengthinputformat_spark.sources import awstape, varlen
    from hadoop_fixedlengthinputformat_spark.tables import configure

    configure(spark)
    varlen.register(spark)
    awstape.register(spark)
    rng = random.Random(seed)
    doc, appends = 0, []
    for _ in range(5):
        recs = []
        for _ in range(rng.randint(1, 40)):
            tail = bytes([rng.randrange(65, 91)]) * rng.randint(5, 2000)
            recs.append((doc, tail))
            doc += 1
        appends.append(recs)
    crash_after = rng.randrange(len(appends))

    aws = _AwsAppender()
    enc = {
        "v": _rdw_append,
        "vbs": _vbs_append,
        "awstape": aws.append,
    }[fmt]
    tmp_path.mkdir(parents=True, exist_ok=True)
    path = str(tmp_path / f"grow-{fmt}-{seed}.bin")
    open(path, "wb").close()
    out_dir = tmp_path / "out"
    ckpt = str(tmp_path / "ckpt")

    def start():
        if fmt == "awstape":
            src = (
                spark.readStream.format("awstape")
                .option("prefixLength", str(RDW_PREFIX_LEN))
                .option("layout", RDW_PREFIX_LAYOUT)
                .option("includeOffset", "false")
                .load(path)
            )
        else:
            rs = spark.readStream.format("varlen").option(
                "prefixLength", str(RDW_PREFIX_LEN)
            ).option("layout", RDW_PREFIX_LAYOUT).option(
                "includeOffset", "false"
            )
            if fmt == "vbs":
                rs = rs.option("recfm", "vbs")
            src = rs.load(path)
        sel = src.select(
            "doc_id", F.length("record_tail").cast("long").alias("tail_bytes")
        )

        def sink(batch_df, batch_id):
            # overwrite per batch id = idempotent under crash replay
            batch_df.write.mode("overwrite").parquet(
                str(out_dir / f"batch-{batch_id}")
            )

        return (
            sel.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        for i, recs in enumerate(appends):
            with open(path, "ab") as f:
                f.write(enc(recs))
            if i == crash_after:
                q.stop()  # possibly mid-batch: the uncommitted batch
                q.awaitTermination()  # must replay identically on restart
                q = start()
            else:
                q.processAllAvailable()
        if fmt == "awstape":
            with open(path, "ab") as f:
                f.write(aws.close())
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    import glob as _glob

    parts = sorted(_glob.glob(str(out_dir / "batch-*")))
    got = spark.read.parquet(*parts).collect() if parts else []
    expected = {
        (doc_id, len(tail)) for recs in appends for doc_id, tail in recs
    }
    got_pairs = [(r.doc_id, r.tail_bytes) for r in got]
    assert len(got_pairs) == len(expected), (
        f"{fmt} seed {seed}: {len(got_pairs)} rows != "
        f"{len(expected)} appended (crash after append {crash_after})"
    )
    assert set(got_pairs) == expected


def test_tail_drain_exactly_once_random_growth_v(spark, tmp_path):
    for seed in (11, 12):
        _drive_tail_schedule(spark, tmp_path / f"s{seed}", "v", seed)


def test_tail_drain_exactly_once_random_growth_vbs(spark, tmp_path):
    for seed in (21, 22):
        _drive_tail_schedule(spark, tmp_path / f"s{seed}", "vbs", seed)


def test_tail_drain_exactly_once_random_growth_awstape(spark, tmp_path):
    for seed in (31, 32):
        _drive_tail_schedule(spark, tmp_path / f"s{seed}", "awstape", seed)


def test_varlen_directory_stream_new_parts_only_and_growth_raises(
    spark, tmp_path
):
    """Round-13 varlen directory streaming: run 1 ingests the initial
    immutable parts (sidecar-split), run 2 with the same checkpoint
    processes ONLY a newly dropped part, and a GROWN member fails
    loudly instead of silently misreading (byte sizes cannot name
    varlen record boundaries)."""
    from hadoop_fixedlengthinputformat_spark.sources import varlen
    from hadoop_fixedlengthinputformat_spark.sources.fixture_gen import (
        RDW_PREFIX_LAYOUT,
        RDW_PREFIX_LEN,
    )

    varlen.register(spark)
    src = str(tmp_path / "vdir")
    os.makedirs(src)

    def part(name, ids):
        with open(os.path.join(src, name), "wb") as f:
            f.write(_rdw_append([(i, b"T" * (5 + i % 11)) for i in ids]))

    part("part-a.rdw", range(10))
    part("part-b.rdw", range(100, 115))
    out = str(tmp_path / "vout")
    ckpt = str(tmp_path / "vckpt")

    def run():
        q = (
            spark.readStream.format("varlen")
            .option("prefixLength", str(RDW_PREFIX_LEN))
            .option("layout", RDW_PREFIX_LAYOUT)
            .option("includeOffset", "false")
            .load(src)
            .select("doc_id")
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    got1 = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got1 == sorted(list(range(10)) + list(range(100, 115)))
    run()  # restart, no new files: nothing replays
    assert spark.read.parquet(out).count() == 25
    part("part-c.rdw", range(200, 203))
    run()  # only the new part flows
    got2 = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got2 == sorted(
        list(range(10)) + list(range(100, 115)) + list(range(200, 203))
    )
    # growth of a known member must fail loudly, not misread
    with open(os.path.join(src, "part-a.rdw"), "ab") as f:
        f.write(_rdw_append([(999, b"XYZ")]))
    import pytest

    with pytest.raises(Exception, match="changed size|immutable|StreamingQuery"):
        run()


def test_varlen_glob_stream_reads_every_row(spark, tmp_path):
    """A glob path streams through the partitioned reader, as a
    directory does: every row of every matching part, none of the
    others.  The tail reader refuses a glob instead of tailing the
    literal pattern."""
    from hadoop_fixedlengthinputformat_spark.sources import varlen
    from hadoop_fixedlengthinputformat_spark.sources.fixture_gen import (
        RDW_PREFIX_LAYOUT,
        RDW_PREFIX_LEN,
    )

    varlen.register(spark)
    src = tmp_path / "vglob"
    src.mkdir()
    (src / "a.rdw").write_bytes(_rdw_append([(i, b"T" * (3 + i % 7)) for i in range(12)]))
    (src / "b.rdw").write_bytes(_rdw_append([(i, b"U") for i in range(100, 105)]))
    (src / "c.other").write_bytes(_rdw_append([(999, b"V")]))
    pattern = str(src / "*.rdw")
    opts = {"prefixLength": str(RDW_PREFIX_LEN), "layout": RDW_PREFIX_LAYOUT}
    with pytest.raises(ValueError, match="single uncompressed file"):
        varlen.VarLenDataSource(
            {"path": pattern, **{k.lower(): v for k, v in opts.items()}}
        ).simpleStreamReader(None)
    out, ckpt = str(tmp_path / "gout"), str(tmp_path / "gckpt")
    q = (
        spark.readStream.format("varlen").options(includeOffset="false", **opts)
        .load(pattern).select("doc_id")
        .writeStream.format("parquet").option("checkpointLocation", ckpt)
        .option("path", out).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == list(range(12)) + list(range(100, 105))
