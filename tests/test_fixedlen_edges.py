"""Edge-case fixtures from FIXTURES.md §A3 / SURVEY.md §2.1 quirks."""

from __future__ import annotations

import os

import pytest
import pyspark.sql.functions as F

from hadoop_fixedlengthinputformat_spark.sources import fixedlen
from hadoop_fixedlengthinputformat_spark.sources.layout import parse_layout


def _write(tmp_path, name: str, payload: bytes) -> str:
    path = os.path.join(str(tmp_path), name)
    with open(path, "wb") as f:
        f.write(payload)
    return path


def _read(spark, path, rec_len, **opts):
    fixedlen.register(spark)
    r = spark.read.format("fixedlen").option("recordLength", str(rec_len))
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load(path)


def test_tail_partial_fails_by_default(spark, tmp_path):
    """File size = 10*len + 3 -> hard error (mirrors FLRR:231-235, raised
    eagerly at planning)."""
    path = _write(tmp_path, "tail.bin", b"x" * (10 * 8 + 3))
    with pytest.raises(Exception, match="not a multiple"):
        _read(spark, path, 8).collect()


def test_tail_partial_drop(spark, tmp_path):
    path = _write(tmp_path, "tail2.bin", b"x" * (10 * 8 + 3))
    df = _read(spark, path, 8, malformedTail="drop")
    assert df.count() == 10


def test_record_length_one(spark, tmp_path):
    path = _write(tmp_path, "one.bin", b"a" * 500)
    assert _read(spark, path, 1).count() == 500


def test_empty_file(spark, tmp_path):
    path = _write(tmp_path, "empty.bin", b"")
    df = _read(spark, path, 8)
    assert df.count() == 0


def test_key_end_eq_record_length_rejected(spark, tmp_path):
    """The reference accepts endAt == recordLength (FLIF:351-352 off-by-one,
    would read past the record); the engine rejects it."""
    path = _write(tmp_path, "k.bin", b"x" * 80)
    with pytest.raises(Exception, match="keyEndAt"):
        _read(spark, path, 8, keyStartAt="0", keyEndAt="8").collect()


def test_key_only_start_rejected(spark, tmp_path):
    """Both-or-neither rule (FLIF:348-349)."""
    path = _write(tmp_path, "k2.bin", b"x" * 80)
    with pytest.raises(Exception, match="together"):
        _read(spark, path, 8, keyStartAt="2").collect()


def test_key_start_gt_end_rejected(spark, tmp_path):
    path = _write(tmp_path, "k3.bin", b"x" * 80)
    with pytest.raises(Exception, match="keyStartAt"):
        _read(spark, path, 8, keyStartAt="5", keyEndAt="2").collect()


def test_missing_record_length_rejected(spark, tmp_path):
    path = _write(tmp_path, "k4.bin", b"x" * 80)
    fixedlen.register(spark)
    with pytest.raises(Exception, match="recordLength"):
        spark.read.format("fixedlen").load(path).collect()


def test_zero_record_length_rejected(spark, tmp_path):
    path = _write(tmp_path, "k5.bin", b"x" * 80)
    with pytest.raises(Exception, match="recordLength"):
        _read(spark, path, 0).collect()


def test_layout_field_out_of_bounds_rejected():
    with pytest.raises(ValueError, match="exceeds"):
        parse_layout("a:0:5:int,b:5:10:string", 12)


def test_layout_bad_type_rejected():
    with pytest.raises(ValueError, match="unsupported"):
        parse_layout("a:0:5:uuid", 12)


def test_multi_file_directory(spark, tmp_path):
    """Directory input: every file planned separately, offsets per file."""
    _write(tmp_path, "a.bin", b"!12345!!" * 4)
    _write(tmp_path, "b.bin", b"!abcde!!" * 3)
    df = _read(spark, str(tmp_path), 8)
    assert df.count() == 7
    offsets = sorted(r.record_offset for r in df.collect())
    assert offsets == [0, 0, 8, 8, 16, 16, 24]


def _write_gz(tmp_path, name: str, payload: bytes) -> str:
    import gzip

    path = os.path.join(str(tmp_path), name)
    with gzip.open(path, "wb") as f:
        f.write(payload)
    return path


def test_gzip_whole_file_read(spark, tmp_path):
    """Gzip input: one whole-file partition, offsets over the uncompressed
    stream (the reference rejects compressed input, FLRR:148-152)."""
    path = _write_gz(tmp_path, "g.bin.gz", b"!12345!!" * 100)
    df = _read(spark, path, 8)
    rows = df.collect()
    assert len(rows) == 100
    assert sorted(r.record_offset for r in rows) == [i * 8 for i in range(100)]
    assert df.rdd.getNumPartitions() == 1


def test_gzip_tail_partial_fails_by_default(spark, tmp_path):
    path = _write_gz(tmp_path, "gt.bin.gz", b"x" * (5 * 8 + 3))
    with pytest.raises(Exception, match="mid-record"):
        _read(spark, path, 8).collect()


def test_gzip_tail_partial_drop(spark, tmp_path):
    path = _write_gz(tmp_path, "gt2.bin.gz", b"x" * (5 * 8 + 3))
    assert _read(spark, path, 8, malformedTail="drop").count() == 5


def test_gzip_streaming_rejected(spark, tmp_path):
    path = _write_gz(tmp_path, "gs.bin.gz", b"x" * 80)
    fixedlen.register(spark)
    with pytest.raises(Exception, match="streaming does not support compress"):
        (spark.readStream.format("fixedlen").option("recordLength", "8")
         .load(path).writeStream.format("noop")
         .trigger(availableNow=True).start().awaitTermination())


def test_partitioned_stream_matches_batch(spark, tmp_path):
    """partitionedStream=true: executor-parallel micro-batch reads must
    deliver exactly the batch content (whole records, correct offsets)."""
    payload = b"".join(f"{i:08d}".encode() for i in range(500))
    path = _write(tmp_path, "ps.bin", payload)
    fixedlen.register(spark)
    src = (
        spark.readStream.format("fixedlen")
        .option("recordLength", "8")
        .option("layout", "v:0:8:long")
        .option("partitionedStream", "true")
        .option("maxPartitionBytes", "256")  # force many range partitions
        .load(path)
    )
    import os as _os
    import uuid as _uuid

    name = f"ps_mem_{_uuid.uuid4().hex[:8]}"
    q = (
        src.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", _os.path.join(str(tmp_path), "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.table(name).collect()
    assert len(rows) == 500
    assert sorted(r.v for r in rows) == list(range(500))
    assert sorted(r.record_offset for r in rows) == [i * 8 for i in range(500)]


def test_permissive_mode_nulls_malformed_fields(spark, tmp_path):
    """mode=permissive: garbage int/double/date values decode to NULL
    instead of failing the task; failfast (default) raises."""
    recs = (
        b"00042" + b"3.14      " + b"2024-01-15" +  # clean
        b"00x13" + b"oops      " + b"2024-13-99" +  # all three malformed
        b"     " + b"          " + b"2024-02-29"    # empty int/double
    )
    path = _write(tmp_path, "perm.bin", recs)
    layout = "k:0:5:int,v:5:10:double,d:15:10:date"
    with pytest.raises(Exception):
        _read(spark, path, 25, layout=layout).collect()
    rows = sorted(
        _read(spark, path, 25, layout=layout, mode="permissive").collect(),
        key=lambda r: r.record_offset,
    )
    assert rows[0].k == 42 and abs(rows[0].v - 3.14) < 1e-9
    assert rows[1].k is None and rows[1].v is None and rows[1].d is None
    assert rows[2].k is None and rows[2].v is None
    assert str(rows[2].d) == "2024-02-29"


def test_permissive_mode_rejects_bad_value(spark, tmp_path):
    path = _write(tmp_path, "perm2.bin", b"x" * 80)
    with pytest.raises(Exception, match="mode"):
        _read(spark, path, 8, mode="lenient").collect()


def test_overwrite_removes_stale_part_files(spark, tmp_path):
    """A narrower overwrite (fewer partitions) must not leave old part
    files mixed into the new dataset."""
    fixedlen.register(spark)
    out = os.path.join(str(tmp_path), "ow")

    def write(df):
        (df.write.format("fixedlen").option("recordLength", "16")
         .option("layout", "k:0:8:long,v:8:8:long").mode("overwrite").save(out))

    wide = spark.range(40).selectExpr("id AS k", "id * 2 AS v").repartition(4)
    write(wide)
    narrow = spark.range(10).selectExpr("id AS k", "id * 3 AS v").coalesce(1)
    write(narrow)
    df = (spark.read.format("fixedlen").option("recordLength", "16")
          .option("layout", "k:0:8:long,v:8:8:long")
          .option("includeOffset", "false").load(out))
    rows = df.collect()
    assert len(rows) == 10
    assert all(r.v == r.k * 3 for r in rows)


def test_permissive_calendar_invalid_date_nulled(spark, tmp_path):
    """Regex-passing but calendar-invalid dates (2021-04-31) must null in
    permissive mode, not fail the chunk."""
    recs = b"2024-01-15" + b"2021-04-31" + b"2021-02-30" + b"2024-02-29"
    path = _write(tmp_path, "cal.bin", recs)
    rows = sorted(
        _read(spark, path, 10, layout="d:0:10:date", mode="permissive").collect(),
        key=lambda r: r.record_offset,
    )
    assert str(rows[0].d) == "2024-01-15"
    assert rows[1].d is None and rows[2].d is None
    assert str(rows[3].d) == "2024-02-29"


def test_glob_skips_marker_files(spark, tmp_path):
    """Glob input must skip _SUCCESS / .crc marker files like the
    directory branch does."""
    _write(tmp_path, "a.bin", b"!1234567" * 4)
    _write(tmp_path, "_SUCCESS", b"")
    _write(tmp_path, ".a.bin.crc", b"xyz")  # size not a record multiple
    df = _read(spark, os.path.join(str(tmp_path), "*"), 8)
    assert df.count() == 4


def test_stream_read_between_offsets_honors_end(spark, tmp_path):
    """Replay of a planned batch must stop at END even if the file grew."""
    from hadoop_fixedlengthinputformat_spark.sources.fixedlen import (
        FixedLenStreamReader,
        _Options,
    )

    path = _write(tmp_path, "replay.bin", b"x" * 80)  # 10 records of 8
    opts = _Options(8, None, None, True, "fail", 1 << 20)
    r = FixedLenStreamReader(opts, path)
    replay = list(r.readBetweenOffsets({"pos": 0}, {"pos": 40}))
    assert len(replay) == 5  # not 10: the growth beyond END is excluded
    assert [t[0] for t in replay] == [0, 8, 16, 24, 32]


def test_failfast_rejects_calendar_invalid_date(spark, tmp_path):
    path = _write(tmp_path, "cal2.bin", b"2021-04-31")
    with pytest.raises(Exception, match="calendar-invalid"):
        _read(spark, path, 10, layout="d:0:10:date").collect()


def test_filter_pushdown_into_reader(spark, tmp_path):
    """Pushed predicates filter inside the reader: results match, and the
    executed plan has no residual Filter above the fixedlen BatchScan."""
    payload = b"".join(f"{i:05d}".encode() + ("ab" if i % 3 else "zz").encode()
                       for i in range(300))
    path = _write(tmp_path, "push.bin", payload)
    df = _read(spark, path, 7, layout="k:0:5:int,tag:5:2:string",
               includeOffset="false")
    flt = df.filter((F.col("k") >= 100) & (F.col("tag") == "zz"))
    rows = flt.collect()
    assert sorted(r.k for r in rows) == [i for i in range(100, 300) if i % 3 == 0]
    plan = flt._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan fixedlen" in plan
    assert "Filter " not in plan  # fully delegated to the reader


def test_offset_pushdown_prunes_partitions(spark, tmp_path):
    """record_offset range predicates must drop whole byte-range
    partitions at planning time AND produce exact results."""
    from hadoop_fixedlengthinputformat_spark.sources.fixedlen import (
        FixedLengthReader,
        _Options,
    )
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    payload = b"".join(f"{i:08d}".encode() for i in range(1000))  # 8000 B
    path = _write(tmp_path, "op.bin", payload)
    opts = _Options(8, None, None, True, "fail", 800)  # 10 partitions

    full = FixedLengthReader(opts, path)
    assert len(full.partitions()) == 10

    pruned = FixedLengthReader(opts, path)
    rest = list(pruned.pushFilters(
        [GreaterThanOrEqual(("record_offset",), 1600),
         LessThan(("record_offset",), 4000)]
    ))
    assert rest == []  # both handled by the source
    kept = pruned.partitions()
    assert len(kept) == 3  # [1600,2400) [2400,3200) [3200,4000)

    # end-to-end correctness through Spark
    fixedlen.register(spark)
    df = (spark.read.format("fixedlen").option("recordLength", "8")
          .option("layout", "v:0:8:long").option("maxPartitionBytes", "800")
          .load(path))
    rows = df.filter(
        (df.record_offset >= 1600) & (df.record_offset < 4000)
    ).collect()
    assert sorted(r.v for r in rows) == list(range(200, 500))


def test_binary_columns_preserve_nul_bytes(spark, tmp_path):
    """record_key and value must be the EXACT byte slices — trailing NULs
    included (numpy 'S' dtype strips them; the reference's data model is
    raw byte[recordLength])."""
    rec = b"AB\x00\x00" + b"\x00cd\x00"
    path = _write(tmp_path, "nul.bin", rec * 3)
    df = _read(spark, path, 8, keyStartAt="0", keyEndAt="3")
    rows = df.collect()
    assert all(bytes(r.record_key) == b"AB\x00\x00" for r in rows)
    assert all(bytes(r.value) == rec for r in rows)


def test_permissive_nulls_non_utf8_bytes(spark, tmp_path):
    """A raw 0xFF byte in a field must null that value in permissive
    mode, not kill the task with an Arrow UTF-8 error."""
    recs = b"00042abc" + b"00\xff43xyz" + b"00044d\xefg"
    path = _write(tmp_path, "utf.bin", recs)
    rows = sorted(
        _read(spark, path, 8, layout="k:0:5:int,s:5:3:string",
              mode="permissive").collect(),
        key=lambda r: r.record_offset,
    )
    assert rows[0].k == 42 and rows[0].s == "abc"
    # nulling is per FIELD: the bad byte sits in k for record 2, in s for 3
    assert rows[1].k is None and rows[1].s == "xyz"
    assert rows[2].k == 44 and rows[2].s is None


def test_permissive_nulls_plus_sign_and_overflow(spark, tmp_path):
    """'+'-signed, int32-overflow, and >18-digit values are malformed ->
    NULL in permissive mode (Arrow's cast would raise on each)."""
    recs = (b"+5".rjust(20) + b"2147483647".rjust(20) + b"2147483648".rjust(20)
            + b"9" * 20 + b"-3".rjust(20))
    path = _write(tmp_path, "ovf.bin", recs)
    rows = sorted(
        _read(spark, path, 20, layout="k:0:20:int", mode="permissive").collect(),
        key=lambda r: r.record_offset,
    )
    ks = [r.k for r in rows]
    assert ks[0] is None          # '+' sign rejected
    assert ks[1] == 2147483647    # int32 max fits
    assert ks[2] is None          # int32 overflow -> null, not task error
    assert ks[3] is None          # 20 digits: beyond the 18-digit bound
    assert ks[4] == -3


def test_writer_append_is_additive(spark, tmp_path):
    fixedlen.register(spark)
    out = os.path.join(str(tmp_path), "app")
    layout = "k:0:8:long,v:8:8:long"

    def write(df, mode):
        (df.write.format("fixedlen").option("recordLength", "16")
         .option("layout", layout).mode(mode).save(out))

    write(spark.range(5).selectExpr("id AS k", "id AS v").coalesce(1), "overwrite")
    write(spark.range(5, 9).selectExpr("id AS k", "id AS v").coalesce(1), "append")
    df = (spark.read.format("fixedlen").option("recordLength", "16")
          .option("layout", layout).option("includeOffset", "false").load(out))
    assert sorted(r.k for r in df.collect()) == list(range(9))


def test_writer_gzip_roundtrip_and_overwrite(spark, tmp_path):
    """compression=gzip must emit .fixed.gz parts the gzip reader
    decodes identically, deterministically (mtime=0 headers), and
    overwrite must clean stale .gz parts from a prior job."""
    import glob
    import gzip

    fixedlen.register(spark)
    out = os.path.join(str(tmp_path), "gz")
    layout = "k:0:8:long,v:8:8:long"

    def write(hi):
        (spark.range(hi).selectExpr("id AS k", "id*2 AS v").coalesce(1)
         .write.format("fixedlen").option("recordLength", "16")
         .option("layout", layout).option("compression", "gzip")
         .mode("overwrite").save(out))

    write(7)
    first = glob.glob(os.path.join(out, "part-*.fixed.gz"))
    assert len(first) == 1
    # deterministic bytes: decompressed AND compressed forms stable
    payload = gzip.open(first[0], "rb").read()
    assert len(payload) == 7 * 16
    write(5)  # overwrite must remove the stale 7-row .gz part
    parts = glob.glob(os.path.join(out, "part-*.fixed.gz"))
    assert len(parts) == 1 and parts != first
    df = (spark.read.format("fixedlen").option("recordLength", "16")
          .option("layout", layout).option("includeOffset", "false").load(out))
    assert sorted((r.k, r.v) for r in df.collect()) == [(i, 2 * i) for i in range(5)]


def test_writer_bad_compression_rejected(spark, tmp_path):
    fixedlen.register(spark)
    with pytest.raises(Exception, match="compression"):
        (spark.range(3).selectExpr("id AS k", "id AS v")
         .write.format("fixedlen").option("recordLength", "16")
         .option("layout", "k:0:8:long,v:8:8:long")
         .option("compression", "snappy")
         .mode("overwrite").save(os.path.join(str(tmp_path), "bad")))


def test_failed_overwrite_keeps_old_dataset(spark, tmp_path):
    """Old part files must survive a write job that fails before commit
    (cleanup is deferred to commit)."""
    fixedlen.register(spark)
    out = os.path.join(str(tmp_path), "keep")
    layout = "k:0:8:long,v:8:8:long"
    good = spark.range(6).selectExpr("id AS k", "id AS v").coalesce(1)
    (good.write.format("fixedlen").option("recordLength", "16")
     .option("layout", layout).mode("overwrite").save(out))
    bad = spark.range(3).selectExpr("id AS k", "CAST(NULL AS LONG) AS v")
    with pytest.raises(Exception):
        (bad.write.format("fixedlen").option("recordLength", "16")
         .option("layout", layout).mode("overwrite").save(out))
    df = (spark.read.format("fixedlen").option("recordLength", "16")
          .option("layout", layout).option("includeOffset", "false").load(out))
    assert sorted(r.k for r in df.collect()) == list(range(6))


def test_pushed_in_filter_drops_nulls(spark, tmp_path):
    """x IN (...) with a NULL column value must drop the row (SQL
    three-valued logic), also when the In filter is pushed."""
    recs = b"00000005" + b"bogus   " + b"00000007"
    path = _write(tmp_path, "innul.bin", recs)
    df = _read(spark, path, 8, layout="k:0:8:int", mode="permissive",
               includeOffset="false")
    rows = df.filter(df.k.isin(5, 7)).collect()
    assert sorted(r.k for r in rows) == [5, 7]
    assert df.filter(df.k.isin(5)).count() == 1


def test_columns_prunes_schema_and_decode(spark, tmp_path):
    """'columns' narrows the layout: only named fields are decoded (in
    layout order, regardless of option order) and garbage bytes in an
    UNREQUESTED int field must not fail the scan — proof the pruned field
    is never parsed."""
    recs = b"".join(
        f"{i:03d}".encode() + b"XXX" + f"n{i}".ljust(4).encode() for i in range(5)
    )
    path = _write(tmp_path, "pruned.bin", recs)
    layout = "k:0:3:int,bad:3:3:int,name:6:4:string"
    df = _read(
        spark, path, 10, layout=layout, includeOffset="false",
        columns="name,k",
    )
    assert [f.name for f in df.schema.fields] == ["k", "name"]
    rows = {r["k"]: r["name"] for r in df.collect()}
    assert rows == {i: f"n{i}" for i in range(5)}


def test_columns_unknown_field_rejected(spark, tmp_path):
    path = _write(tmp_path, "pr2.bin", b"x" * 30)
    with pytest.raises(Exception, match="unknown layout fields"):
        _read(
            spark, path, 10, layout="k:0:3:int", columns="nope"
        ).collect()


def test_columns_requires_layout(spark, tmp_path):
    path = _write(tmp_path, "pr3.bin", b"x" * 30)
    with pytest.raises(Exception, match="requires a 'layout'"):
        _read(spark, path, 10, columns="k").collect()


def test_columns_rejected_on_write(spark, tmp_path):
    path = _write(tmp_path, "pr4.bin", b"00100a" * 3)
    df = _read(spark, path, 6, layout="k:0:3:int,v:3:3:string",
               includeOffset="false")
    with pytest.raises(Exception, match="does not accept 'columns'"):
        (
            df.write.format("fixedlen")
            .option("recordLength", "6")
            .option("layout", "k:0:3:int,v:3:3:string")
            .option("columns", "k")
            .mode("overwrite")
            .save(os.path.join(str(tmp_path), "out"))
        )


@pytest.mark.parametrize(
    "vals, opts",
    [
        (["  5.0", "  nan", " -3.5", "  9.9", "  nan"], {}),
        # written in Spark's order (NaN last) and declared sorted: the
        # bisect must place NaN above every value, as the row mask does
        ([" -3.5", "  5.0", "  9.9", "  nan", "  nan"], {"sortedBy": "v"}),
    ],
    ids=["unsorted", "sortedBy"],
)
def test_pushed_filters_match_spark_nan_semantics(spark, tmp_path, vals, opts):
    """Pushed comparisons on a double field must reproduce Spark's float
    total order (NaN greatest, NaN = NaN true), not Arrow's IEEE (all
    NaN comparisons false).  Compare every pushed predicate against the
    same predicate evaluated by Spark AFTER a pushdown-free scan."""
    recs = b"".join(f"{i:02d}".encode() + v.encode() for i, v in enumerate(vals))
    path = _write(tmp_path, "nan.bin", recs)
    layout = "k:0:2:int,v:2:5:double"

    import math

    import pyspark.sql.functions as F

    def spark_side(pred):
        # includeOffset row keeps schema aligned; filter AFTER scan via a
        # non-pushable disguise (abs() wrapper defeats pushdown)
        df = _read(spark, path, 7, layout=layout, includeOffset="false", **opts)
        return sorted(
            r["k"] for r in df.filter(pred(F.col("v") + 0)).collect()
        )

    def pushed_side(pred):
        df = _read(spark, path, 7, layout=layout, includeOffset="false", **opts)
        out = df.filter(pred(F.col("v")))
        plan = out._jdf.queryExecution().executedPlan().toString()
        rows = sorted(r["k"] for r in out.collect())
        return rows, plan

    nan = float("nan")
    preds = [
        lambda c: c > 5.0,
        lambda c: c >= 5.0,
        lambda c: c < 6.0,
        lambda c: c <= 6.0,
        lambda c: c == nan,
        lambda c: c > nan,
        lambda c: c >= nan,
        lambda c: c < nan,
        lambda c: c <= nan,
        lambda c: c.isin(nan, -3.5),
    ]
    for i, p in enumerate(preds):
        want = spark_side(p)
        got, _plan = pushed_side(p)
        assert got == want, f"pred #{i}: pushed={got} spark={want}"


# --- skipHeaderRecords / skipTrailerRecords -------------------------------

def _banner_file(tmp_path, name, n_data=10, rl=8, header=2, trailer=1,
                 gzip_out=False):
    data = b"".join(f"{i:08d}".encode() for i in range(n_data))
    payload = b"H" * (header * rl) + data + b"T" * (trailer * rl)
    if gzip_out:
        import gzip
        path = os.path.join(str(tmp_path), name + ".gz")
        with gzip.open(path, "wb") as f:
            f.write(payload)
        return path
    return _write(tmp_path, name, payload)


def test_skip_header_trailer_plain(spark, tmp_path):
    """Banner records are sliced off at planning time; offsets keep true
    file positions (first data record at header*rl)."""
    path = _banner_file(tmp_path, "b.bin")
    df = _read(spark, path, 8, layout="v:0:8:int",
               skipHeaderRecords="2", skipTrailerRecords="1")
    rows = df.orderBy("record_offset").collect()
    assert [r.v for r in rows] == list(range(10))
    assert rows[0].record_offset == 16
    assert rows[-1].record_offset == 16 + 9 * 8


def test_skip_header_trailer_many_partitions(spark, tmp_path):
    """The skip arithmetic must survive multi-partition split planning
    (tiny maxPartitionBytes forces one record per partition)."""
    path = _banner_file(tmp_path, "b2.bin", n_data=20)
    df = _read(spark, path, 8, layout="v:0:8:int",
               skipHeaderRecords="2", skipTrailerRecords="1",
               maxPartitionBytes="8")
    assert sorted(r.v for r in df.collect()) == list(range(20))


def test_skip_header_trailer_gzip(spark, tmp_path):
    """Gzip path: header discarded as the stream decompresses, trailer
    withheld via the holdback buffer (no seeking available)."""
    path = _banner_file(tmp_path, "b3", gzip_out=True)
    df = _read(spark, path, 8, layout="v:0:8:int",
               skipHeaderRecords="2", skipTrailerRecords="1")
    rows = df.orderBy("record_offset").collect()
    assert [r.v for r in rows] == list(range(10))
    assert rows[0].record_offset == 16


def test_skip_consumes_whole_file(spark, tmp_path):
    path = _banner_file(tmp_path, "b4.bin", n_data=1)
    df = _read(spark, path, 8, layout="v:0:8:int",
               skipHeaderRecords="3", skipTrailerRecords="1")
    assert df.count() == 0


def test_skip_negative_rejected(spark, tmp_path):
    path = _banner_file(tmp_path, "b5.bin")
    with pytest.raises(Exception, match="must be >= 0"):
        _read(spark, path, 8, skipHeaderRecords="-1").collect()


def test_skip_trailer_rejected_for_streaming(spark, tmp_path):
    path = _banner_file(tmp_path, "b6.bin")
    fixedlen.register(spark)
    with pytest.raises(Exception, match="not supported for streaming"):
        (
            spark.readStream.format("fixedlen")
            .option("recordLength", "8")
            .option("skipTrailerRecords", "1")
            .load(path)
            .writeStream.format("noop")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


# --- OCCURS (repeated groups -> array columns) ----------------------------

def test_occurs_roundtrip_through_writer(spark, tmp_path):
    """array<int> column encodes back to consecutive slots and re-reads
    identically (writer + reader symmetry)."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    fixedlen.register(spark)
    data = [(i, [i, i * 2, i * 3]) for i in range(12)]
    schema = StructType([
        StructField("k", IntegerType(), False),
        StructField("vals", ArrayType(IntegerType(), True), False),
    ])
    df = spark.createDataFrame(data, schema)
    out = os.path.join(str(tmp_path), "occ")
    (df.coalesce(1).write.format("fixedlen")
       .option("recordLength", "16")
       .option("layout", "k:0:4:int,vals:4:4:int[3]")
       .mode("overwrite").save(out))
    back = (spark.read.format("fixedlen")
            .option("recordLength", "16")
            .option("layout", "k:0:4:int,vals:4:4:int[3]")
            .option("includeOffset", "false").load(out))
    got = {r.k: list(r.vals) for r in back.collect()}
    assert got == {i: [i, i * 2, i * 3] for i in range(12)}


def test_occurs_mixed_types_and_permissive(spark, tmp_path):
    """double(scale) elements work; permissive mode nulls only the
    malformed ELEMENT, not the whole array."""
    rec = (b"0001" + b" 1.5 2.5 3.5" + b"ab")  # rl=18: int4 + 3x double4 + pad2
    bad = (b"0002" + b" 1.5 X.Y 9.0" + b"cd")
    path = _write(tmp_path, "occ2.bin", rec + bad)
    df = _read(spark, path, 18, layout="k:0:4:int,d:4:4:double[3]",
               mode="permissive", includeOffset="false")
    rows = {r.k: list(r.d) for r in df.collect()}
    assert rows[1] == [1.5, 2.5, 3.5]
    assert rows[2][0] == 1.5 and rows[2][1] is None and rows[2][2] == 9.0


def test_occurs_bounds_validated(spark, tmp_path):
    path = _write(tmp_path, "occ3.bin", b"x" * 16)
    with pytest.raises(Exception, match="exceeds"):
        _read(spark, path, 16, layout="v:0:4:int[5]").collect()


def test_occurs_filter_not_pushed_but_correct(spark, tmp_path):
    """Scalar predicates on sibling columns still push; the array column
    itself is never claimed by pushFilters."""
    payload = b"".join(f"{i:04d}".encode() + f"{i:04d}{i+1:04d}".encode() for i in range(10))
    path = _write(tmp_path, "occ4.bin", payload)
    df = _read(spark, path, 12, layout="k:0:4:int,v:4:4:int[2]",
               includeOffset="false")
    import pyspark.sql.functions as F
    out = df.filter((F.col("k") >= 5) & (F.element_at("v", 2) % 2 == 0)).collect()
    assert [r.k for r in out] == [5, 7, 9]


def test_redefines_overlapping_fields(spark, tmp_path):
    """COBOL REDEFINES: two fields may view the SAME bytes under
    different types (fixed-width records are random-access, so overlap
    costs nothing).  A yyyymmdd-ish slice decodes both as a full string
    and as its numeric year."""
    payload = b"".join(f"2024-{m:02d}-15val{m:02d}".encode() for m in (1, 7, 12))
    path = _write(tmp_path, "redef.bin", payload)
    df = _read(
        spark, path, 15,
        layout="shipdate:0:10:date,ship_year:0:4:int,ship_mon:5:2:int,v:10:5:string",
        includeOffset="false",
    )
    rows = df.orderBy("ship_mon").collect()
    assert [r.ship_year for r in rows] == [2024, 2024, 2024]
    assert [r.ship_mon for r in rows] == [1, 7, 12]
    assert rows[0].shipdate.month == 1 and rows[2].v == "val12"


# --- corruptRecordColumn --------------------------------------------------

def test_corrupt_record_column_captures_raw_bytes(spark, tmp_path):
    """Permissive + corruptRecordColumn: malformed rows keep their raw
    record bytes in the named binary column; clean rows carry null."""
    good = b"0007good "
    bad = b"00XXoops "  # int field fails
    path = _write(tmp_path, "cr.bin", good + bad + good)
    df = _read(spark, path, 9, layout="k:0:4:int,t:4:5:string",
               mode="permissive", corruptRecordColumn="_corrupt",
               includeOffset="false")
    rows = df.collect()
    assert [r.k for r in rows] == [7, None, 7]
    assert rows[0]._corrupt is None and rows[2]._corrupt is None
    assert bytes(rows[1]._corrupt) == bad


def test_corrupt_record_column_with_occurs(spark, tmp_path):
    """A malformed OCCURS element marks the whole row corrupt."""
    rec_ok = b"000100020003"
    rec_bad = b"0001" + bytes([0xE5, 0x85, 0xAC, 0xE7]) + b"0003"  # garbage slot 1
    path = _write(tmp_path, "cr2.bin", rec_ok + rec_bad)
    df = _read(spark, path, 12, layout="v:0:4:int[3]",
               mode="permissive", corruptRecordColumn="_bad",
               includeOffset="false")
    rows = df.collect()
    assert rows[0]._bad is None and list(rows[0].v) == [1, 2, 3]
    assert bytes(rows[1]._bad) == rec_bad


def test_corrupt_record_column_requires_permissive(spark, tmp_path):
    path = _write(tmp_path, "cr3.bin", b"0007good ")
    with pytest.raises(Exception, match="requires mode=permissive"):
        _read(spark, path, 9, layout="k:0:4:int,t:4:5:string",
              corruptRecordColumn="_corrupt").collect()


def test_corrupt_record_column_name_clash_rejected(spark, tmp_path):
    path = _write(tmp_path, "cr4.bin", b"0007good ")
    with pytest.raises(Exception, match="clashes"):
        _read(spark, path, 9, layout="k:0:4:int,t:4:5:string",
              mode="permissive", corruptRecordColumn="k").collect()


def test_raw_write_and_compaction(spark, tmp_path):
    """Raw (no-layout) write accepts recordLength-sized binary values;
    compaction merges many small files into ceil(size/target) outputs
    with identical content."""
    from hadoop_fixedlengthinputformat_spark.sources.skip_queries import (
        compact_fixedlen,
    )

    src = os.path.join(str(tmp_path), "small")
    os.makedirs(src)
    for i in range(7):
        with open(os.path.join(src, f"p{i}.fixed"), "wb") as f:
            f.write(b"".join(f"{i:04d}{j:04d}".encode() for j in range(3)))
    dst = os.path.join(str(tmp_path), "compacted")
    n = compact_fixedlen(spark, src, dst, 8, target_bytes=1 << 20)
    assert n == 1
    outs = [f for f in os.listdir(dst) if f.endswith(".fixed")]
    assert len(outs) == 1
    back = _read(spark, dst, 8, layout="a:0:4:int,b:4:4:int", includeOffset="false")
    assert sorted((r.a, r.b) for r in back.collect()) == sorted(
        (i, j) for i in range(7) for j in range(3)
    )


def test_raw_write_rejects_wrong_length(spark, tmp_path):
    fixedlen.register(spark)
    df = spark.createDataFrame([(bytearray(b"short"),)], "value binary")
    with pytest.raises(Exception, match="expected recordLength"):
        (df.write.format("fixedlen").option("recordLength", "8")
           .mode("overwrite").save(os.path.join(str(tmp_path), "bad")))


# --- lineSep (line-terminated fixed-width) --------------------------------

def test_linesep_read_write_roundtrip(spark, tmp_path):
    """Printed-report style: recordLength DATA bytes + '\n' terminator.
    Writer emits terminators; reader strips them; offsets walk the
    on-disk stride (data + sep)."""
    fixedlen.register(spark)
    df = spark.createDataFrame(
        [(i, f"v{i:03d}") for i in range(40)], "k int, t string"
    ).coalesce(1)
    out = os.path.join(str(tmp_path), "ls")
    (df.write.format("fixedlen").option("recordLength", "9")
       .option("layout", "k:0:4:int,t:4:5:string")
       .option("lineSep", "\n").mode("overwrite").save(out))
    (part,) = [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".fixed")]
    raw = open(part, "rb").read()
    assert len(raw) == 40 * 10 and raw[9:10] == b"\n"
    back = _read(spark, out, 9, layout="k:0:4:int,t:4:5:string", lineSep="\n")
    rows = sorted(back.collect(), key=lambda r: r.record_offset)
    assert [r.k for r in rows] == list(range(40))
    assert rows[1].record_offset == 10  # stride, not bare recordLength


def test_linesep_crlf_and_multipartition(spark, tmp_path):
    payload = b"".join(f"{i:08d}".encode() + b"\r\n" for i in range(50))
    path = _write(tmp_path, "crlf.bin", payload)
    df = _read(spark, path, 8, layout="v:0:8:int", lineSep="\r\n",
               maxPartitionBytes="40", includeOffset="false")
    assert sorted(r.v for r in df.collect()) == list(range(50))


def test_linesep_bad_terminator_failfast(spark, tmp_path):
    payload = b"00000001\n" + b"00000002X" + b"00000003\n"
    path = _write(tmp_path, "bad.bin", payload)
    with pytest.raises(Exception, match="terminator mismatch"):
        _read(spark, path, 8, layout="v:0:8:int", lineSep="\n").collect()
    # permissive: data bytes still decode
    rows = _read(spark, path, 8, layout="v:0:8:int", lineSep="\n",
                 mode="permissive", includeOffset="false").collect()
    assert sorted(r.v for r in rows) == [1, 2, 3]


def test_linesep_gzip_and_skip_records(spark, tmp_path):
    """Terminated records compose with gzip whole-file reads and banner
    skips (all stride-based)."""
    import gzip as _gz

    payload = (b"HDRHDRHD\n" + b"".join(f"{i:08d}".encode() + b"\n" for i in range(6))
               + b"TRLTRLTR\n")
    path = os.path.join(str(tmp_path), "lsg.fixed.gz")
    with _gz.open(path, "wb") as f:
        f.write(payload)
    df = _read(spark, path, 8, layout="v:0:8:int", lineSep="\n",
               skipHeaderRecords="1", skipTrailerRecords="1",
               includeOffset="false")
    assert sorted(r.v for r in df.collect()) == list(range(6))


def test_linesep_composes_with_columns_pruning(spark, tmp_path):
    payload = b"".join(f"{i:04d}x{i:03d}\n".encode() for i in range(20))
    path = _write(tmp_path, "lsc.bin", payload)
    df = _read(spark, path, 8, layout="a:0:4:int,b:4:4:string",
               lineSep="\n", columns="a", includeOffset="false")
    assert df.columns == ["a"]
    assert sorted(r.a for r in df.collect()) == list(range(20))


def test_linesep_composes_with_multitype(spark, tmp_path):
    recs = b"N0001\n" + b"R0002\n" + b"N0003\n"
    path = _write(tmp_path, "lsm.bin", recs)
    df = (
        spark.read.format("fixedlen")
        .option("recordLength", "5")
        .option("layouts", "N=nk:1:4:int;R=rk:1:4:int")
        .option("typeStart", "0").option("typeLen", "1")
        .option("lineSep", "\n")
        .option("includeOffset", "true")
        .load(path)
    )
    fixedlen.register(spark)
    rows = sorted(df.collect(), key=lambda r: r.record_offset)
    assert [r.record_type for r in rows] == ["N", "R", "N"]
    assert [r.record_offset for r in rows] == [0, 6, 12]  # stride walk
    assert rows[0].nk == 1 and rows[1].rk == 2 and rows[2].nk == 3


# --- OCCURS DEPENDING ON (round 4) ---

ODO_LAYOUT = "k:0:2:int,cnt:2:1:int,vals:3:3:int[3->cnt]"
ODO_RL = 12


def _odo_rec(k: int, cnt: int, vals: list[int]) -> bytes:
    body = "".join(f"{v:03d}" for v in vals).ljust(9, "0")
    return f"{k:02d}{cnt:01d}{body}".encode()


def test_odo_trims_lists_to_counter(spark, tmp_path):
    payload = (
        _odo_rec(1, 1, [7])
        + _odo_rec(2, 3, [1, 2, 3])
        + _odo_rec(3, 0, [])
        + _odo_rec(4, 2, [9, 8])
    )
    path = _write(tmp_path, "odo.fixed", payload)
    rows = {
        r.k: list(r.vals)
        for r in _read(spark, path, ODO_RL, layout=ODO_LAYOUT,
                       includeOffset="false").collect()
    }
    assert rows == {1: [7], 2: [1, 2, 3], 3: [], 4: [9, 8]}


def test_odo_counter_out_of_range_failfast_and_permissive(spark, tmp_path):
    payload = _odo_rec(1, 2, [5, 6]) + b"02" + b"7" + b"1" * 9  # cnt=7 > 3
    path = _write(tmp_path, "odo_bad.fixed", payload)
    with pytest.raises(Exception, match="DEPENDING ON counter"):
        _read(spark, path, ODO_RL, layout=ODO_LAYOUT,
              includeOffset="false").collect()
    rows = {
        r.k: r
        for r in _read(
            spark, path, ODO_RL, layout=ODO_LAYOUT, includeOffset="false",
            mode="permissive", corruptRecordColumn="_corrupt",
        ).collect()
    }
    assert list(rows[1].vals) == [5, 6] and rows[1]._corrupt is None
    assert rows[2].vals is None  # corrupt counter -> null list
    assert rows[2]._corrupt is not None  # quarantined raw bytes


def test_odo_layout_validation():
    with pytest.raises(ValueError, match="PRECEDING"):
        parse_layout("vals:0:3:int[3->cnt],cnt:9:1:int", 12)
    with pytest.raises(ValueError, match="PRECEDING"):
        # counter must be scalar int/long, not a string field
        parse_layout("cnt:0:1:string,vals:1:3:int[3->cnt]", 12)


def test_odo_sink_pads_unused_slots(spark, tmp_path):
    from hadoop_fixedlengthinputformat_spark.sources.layout import (
        encode_rows,
    )

    fields = parse_layout(ODO_LAYOUT, ODO_RL)
    payload = encode_rows(
        [{"k": 5, "cnt": 1, "vals": [42]}], fields, ODO_RL
    )
    assert payload == b"051042000000"
    with pytest.raises(ValueError, match="at most"):
        encode_rows([{"k": 5, "cnt": 4, "vals": [1, 2, 3, 4]}], fields, ODO_RL)
