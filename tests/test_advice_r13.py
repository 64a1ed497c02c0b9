"""ADVICE r13 regressions: directory-stream listing races.

A file deleted between the directory listing and the per-file stat
must NOT kill the stream — it simply isn't admitted this batch (if it
reappears, a later listing picks it up).  Both directory stream
readers (fixedlen tails growing files, varlen admits immutable whole
files) share the listing-then-stat shape and both get the skip."""

from __future__ import annotations

import os
import tempfile

import pytest


def test_varlen_directory_latest_offset_skips_vanished_file(monkeypatch):
    from hadoop_fixedlengthinputformat_spark.sources import varlen

    opts = varlen._VOptions.parse({})
    with tempfile.TemporaryDirectory() as d:
        real = os.path.join(d, "part-a.rdw")
        with open(real, "wb") as f:
            f.write(b"\x00\x07\x00\x00abc")
        ghost = os.path.join(d, "part-gone.rdw")
        monkeypatch.setattr(
            varlen, "_list_files", lambda path: [real, ghost]
        )
        r = varlen.VarLenDirectoryStreamReader(opts, d)
        off = r.latestOffset()
        assert off == {"files": {real: 7}}


def test_fixedlen_directory_latest_offset_skips_vanished_file(monkeypatch):
    from hadoop_fixedlengthinputformat_spark.sources import fixedlen

    opts = fixedlen._Options.parse(
        {"recordlength": "10", "layout": "v:0:10:long"}
    )
    with tempfile.TemporaryDirectory() as d:
        real = os.path.join(d, "part-a.fixed")
        with open(real, "wb") as f:
            f.write(b"0" * 30)
        ghost = os.path.join(d, "part-gone.fixed")
        monkeypatch.setattr(
            fixedlen, "_list_files", lambda path: [real, ghost]
        )
        r = fixedlen.FixedLenDirectoryStreamReader(opts, d)
        off = r.latestOffset()
        assert off == {"files": {real: 30}}


@pytest.mark.parametrize(
    "seen, now", [(100, 40), (0, 7)], ids=["shrunk", "seen_empty_then_grown"]
)
def test_varlen_directory_changed_size_message(monkeypatch, seen, now):
    """The partitions() error must say 'changed size' (a shrunk file was
    previously reported as 'grew')."""
    import pytest

    from hadoop_fixedlengthinputformat_spark.sources import varlen

    opts = varlen._VOptions.parse({})
    r = varlen.VarLenDirectoryStreamReader(opts, "/nonexistent")
    with pytest.raises(ValueError, match="changed size"):
        r.partitions(
            {"files": {"/x/part-a.rdw": seen}},
            {"files": {"/x/part-a.rdw": now}},
        )


@pytest.mark.parametrize("source", ["fixedlen", "varlen"])
def test_directory_stream_empty_batch_reads_nothing(tmp_path, source):
    """A micro-batch with no new bytes plans the one empty ("", 0, 0)
    partition Spark needs, and reading it yields no rows."""
    from hadoop_fixedlengthinputformat_spark.sources import fixedlen, varlen

    if source == "fixedlen":
        (tmp_path / "part-a.fixed").write_bytes(b"0" * 30)
        ds = fixedlen.FixedLengthDataSource({
            "path": str(tmp_path), "recordlength": "10",
            "layout": "v:0:10:long", "partitionedstream": "true",
        })
    else:
        (tmp_path / "part-a.rdw").write_bytes(b"\x00\x07\x00\x00abc")
        ds = varlen.VarLenDataSource({"path": str(tmp_path)})
    r = ds.streamReader(None)
    end = r.latestOffset()
    parts = r.partitions(end, end)
    assert [(q.path, q.start, q.end) for q in parts] == [("", 0, 0)]
    assert [b for q in parts for b in r.read(q)] == []


# --- round 14: zstd codec gate (VERDICT r13 "modern codec coverage") ----


def test_zst_member_fails_with_install_hint_when_pkg_absent(spark, tmp_path):
    """A .zst member must be RECOGNIZED as zstd and fail with a clear
    install hint when the optional zstandard package is absent — never
    mis-read as raw fixed-width bytes."""
    import pytest

    from hadoop_fixedlengthinputformat_spark.sources import fixedlen

    p = tmp_path / "d.fixed.zst"
    p.write_bytes(b"\x28\xb5\x2f\xfd" + b"\x00" * 20)  # zstd magic
    assert fixedlen._codec_of(str(p)) == "zstd"
    try:
        import zstandard  # noqa: F401

        pytest.skip("zstandard installed: error path not reachable")
    except ImportError:
        pass
    fixedlen.register(spark)
    df = (
        spark.read.format("fixedlen")
        .option("recordLength", "8")
        .option("layout", "v:0:8:long")
        .load(str(p))
    )
    with pytest.raises(Exception, match="zstandard"):
        df.collect()


def test_zstd_compression_option_fails_early_when_pkg_absent(spark, tmp_path):
    import pytest

    try:
        import zstandard  # noqa: F401

        pytest.skip("zstandard installed: error path not reachable")
    except ImportError:
        pass
    from hadoop_fixedlengthinputformat_spark.sources import fixedlen

    fixedlen.register(spark)
    df = spark.range(4).selectExpr("id AS v")
    with pytest.raises(Exception, match="zstandard"):
        (
            df.write.format("fixedlen")
            .option("recordLength", "8")
            .option("layout", "v:0:8:long")
            .option("compression", "zstd")
            .mode("overwrite")
            .save(str(tmp_path / "out"))
        )


def test_zstd_roundtrip_when_pkg_present(spark, tmp_path):
    """Full write->read roundtrip; runs only where zstandard exists."""
    import pytest

    pytest.importorskip("zstandard")
    from hadoop_fixedlengthinputformat_spark.sources import fixedlen

    fixedlen.register(spark)
    out = str(tmp_path / "zout")
    spark.range(100).selectExpr("id AS v").write.format("fixedlen").option(
        "recordLength", "10"
    ).option("layout", "v:0:10:long").option("compression", "zstd").mode(
        "overwrite"
    ).save(out)
    got = (
        spark.read.format("fixedlen")
        .option("recordLength", "10")
        .option("layout", "v:0:10:long")
        .load(out + "/*.zst")
    )
    assert sorted(r.v for r in got.collect()) == list(range(100))
