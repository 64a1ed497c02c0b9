"""Regression tests for the round-2 ADVICE findings (ADVICE.md r2):

1. empty layout-mode write must leave a readable (empty) dataset
2. partitioned single-file stream offsets are stride-based with lineSep
3. directory-stream header skip floors at the header region for files
   first seen truncated
4. stats-sidecar pruning accounts for skipHeaderRecords ordinal shift
5. hive-partitioned datasets refuse to stream instead of yielding 0 rows
"""

from __future__ import annotations

import os

import pytest


def _register(spark):
    from hadoop_fixedlengthinputformat_spark.sources import fixedlen

    fixedlen.register(spark)


def test_empty_layout_write_reads_back_empty(spark, tmp_path):
    """ADVICE 1: an empty DataFrame written in layout mode must produce
    part files, so the read returns an empty DataFrame instead of
    raising 'no input files'."""
    _register(spark)
    out = str(tmp_path / "empty_ds")
    layout = "k:0:5:int,name:5:10:string"
    df = spark.createDataFrame([], "k int, name string")
    (
        df.coalesce(1)
        .write.format("fixedlen")
        .option("recordLength", "15")
        .option("layout", layout)
        .mode("overwrite")
        .save(out)
    )
    assert any(f.endswith(".fixed") for f in os.listdir(out))
    back = (
        spark.read.format("fixedlen")
        .option("recordLength", "15")
        .option("layout", layout)
        .load(out)
    )
    assert back.count() == 0


def test_existing_fileless_directory_reads_as_empty(spark, tmp_path):
    """Companion to the empty-write fix: an existing directory with zero
    part files (e.g. a committed empty PARTITIONED write) is an empty
    dataset, not an error.  A missing path still raises."""
    _register(spark)
    d = tmp_path / "bare_dir"
    d.mkdir()
    df = (
        spark.read.format("fixedlen")
        .option("recordLength", "10")
        .option("layout", "v:0:10:long")
        .load(str(d))
    )
    assert df.count() == 0
    with pytest.raises(Exception, match="no input files"):
        (
            spark.read.format("fixedlen")
            .option("recordLength", "10")
            .option("layout", "v:0:10:long")
            .load(str(tmp_path / "definitely_missing"))
            .count()
        )


def test_partitioned_stream_initial_offset_uses_stride(spark, tmp_path):
    """ADVICE 2: lineSep + skipHeaderRecords + partitionedStream on a
    single file must start at skip_header * stride, not
    skip_header * record_length (which lands mid-record and garbles
    every later chunk)."""
    _register(spark)
    p = str(tmp_path / "single.fixed")
    sep = b"\n"
    recs = [b"HDR00", b"HDR01"] + [f"{i:05d}".encode() for i in range(10)]
    with open(p, "wb") as f:
        for r in recs:
            f.write(r + sep)
    q = (
        spark.readStream.format("fixedlen")
        .option("recordLength", "5")
        .option("layout", "v:0:5:int")
        .option("lineSep", "\n")
        .option("skipHeaderRecords", "2")
        .option("partitionedStream", "true")
        .load(p)
        .writeStream.format("memory")
        .queryName("advice_stride")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    vals = sorted(
        r.v for r in spark.sql("select v from advice_stride").collect()
    )
    assert vals == list(range(10))


def test_directory_stream_header_floor_covers_truncated_first_sight():
    """ADVICE 3: a file checkpointed while shorter than its header region
    (e.g. 0 bytes) must still skip the header once it grows — the
    per-file floor is max(seen_offset, skip_header * stride)."""
    from hadoop_fixedlengthinputformat_spark.sources.fixedlen import (
        FixedLenDirectoryStreamReader,
        _Options,
    )

    opts = _Options.parse(
        {"recordlength": "10", "layout": "v:0:10:long", "skipheaderrecords": "2"}
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "grow.fixed")
        with open(p, "wb") as f:
            f.write(b"H" * 10 * 2 + b"".join(f"{i:010d}".encode() for i in range(5)))
        r = FixedLenDirectoryStreamReader(opts, d)
        end = r.latestOffset()
        # file was first observed empty: checkpointed offset 0
        parts = r.partitions({"files": {p: 0}}, end)
        starts = [q.start for q in parts if q.path]
        assert starts and min(starts) == 20, (
            f"header region leaked: partition starts {starts}"
        )


@pytest.mark.parametrize("sep", ["", "\n"])
@pytest.mark.parametrize("first_sight", ["whole", "empty"])
def test_partitioned_single_file_offsets_stay_on_stride(tmp_path, sep, first_sight):
    """ADVICE 2 and 3 on one file: with lineSep and skipHeaderRecords a
    single-file partitioned stream's offsets stay {"pos"} on stride
    multiples, and a file first seen empty does not leak its header
    records once it grows."""
    from hadoop_fixedlengthinputformat_spark.sources.fixedlen import (
        FixedLengthDataSource,
    )

    p = tmp_path / "single.fixed"
    stride = 5 + len(sep)
    recs = [b"HDR00", b"HDR01"] + [f"{i:05d}".encode() for i in range(10)]
    body = b"".join(r + sep.encode() for r in recs)
    opts = {
        "path": str(p), "recordlength": "5", "layout": "v:0:5:int",
        "skipheaderrecords": "2", "partitionedstream": "true",
        "maxpartitionbytes": str(3 * stride),
    }
    if sep:
        opts["linesep"] = sep
    r = FixedLengthDataSource(opts).streamReader(None)
    start, rows = r.initialOffset(), []
    assert start == {"pos": 2 * stride}
    # the last write ends in a partial record
    for data in ([b""] if first_sight == "empty" else []) + [body + b"123"]:
        p.write_bytes(data)
        end = r.latestOffset()
        assert set(end) == {"pos"} and end["pos"] % stride == 0
        for part in r.partitions(start, end):
            rows += [v for b in r.read(part) for v in b.column("v").to_pylist()]
        start = end
    assert rows == list(range(10)) and start == {"pos": len(body)}


def test_sidecar_pruning_shifts_ordinals_by_skip_header():
    """ADVICE 4: sidecar blocks count data records only; byte offsets
    include header records.  Without the shift, a partition whose data
    rows live at the tail of block 0 is tested against block 1 only and
    wrongly pruned."""
    from hadoop_fixedlengthinputformat_spark.sources import stats
    from hadoop_fixedlengthinputformat_spark.sources.layout import parse_layout

    fields = parse_layout("v:0:10:long", 10)
    payload = {
        "block_records": 10,
        "blocks": [
            {"n": 10, "cols": {"v": {"min": 0, "max": 9}}},
            {"n": 10, "cols": {"v": {"min": 100, "max": 199}}},
        ],
    }

    from pyspark.sql.datasource import EqualTo

    flt = EqualTo(("v",), 9)
    by_name = {f.name: f for f in fields}
    # bytes [100, 200) = file records [10, 20) = DATA records [8, 18)
    # with 2 header records; v=9 lives at data positions 8..9 (block 0)
    assert stats.partition_may_match(
        payload, 10, 100, 200, [flt], by_name, skip_records=2
    ), "matching partition was pruned (ordinals not shifted)"
    # sanity: without headers the same range is block 1 only -> prunable
    assert not stats.partition_may_match(
        payload, 10, 100, 200, [flt], by_name, skip_records=0
    )


def test_hive_partitioned_dataset_refuses_to_stream(spark, tmp_path):
    """ADVICE 5: readStream over a col=value tree must raise, not
    silently return an empty stream forever."""
    _register(spark)
    root = tmp_path / "hive_ds"
    sub = root / "region=eu"
    sub.mkdir(parents=True)
    (sub / "part-00000.fixed").write_bytes(b"00001")
    with pytest.raises(Exception, match="not streamable"):
        q = (
            spark.readStream.format("fixedlen")
            .option("recordLength", "5")
            .option("layout", "v:0:5:int")
            .option("partitionedStream", "true")
            .load(str(root))
            .writeStream.format("memory")
            .queryName("advice_hive")
            .option("checkpointLocation", str(tmp_path / "ck_hive"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
