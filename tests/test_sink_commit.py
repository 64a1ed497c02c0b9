"""Overwrite and abort on the three fixed-width sinks.

All three commit through one protocol, each with its own clearing
scope: fixedlen clears ``part-*`` files through its partitionBy
subdirectories, varlen and awstape only at the top level.  An overwrite
removes the earlier job's parts with their sidecars and codec members
and keeps every other file; a job that fails keeps the old dataset and
leaves no ``.tmp-`` file."""

from __future__ import annotations

import errno
import os

import pyarrow as pa
import pyspark.sql.functions as F
import pytest
from pyspark import TaskContext


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _subdirs, names in os.walk(root)
        for f in names
    )


def _write(df, fmt: str, opts: dict, path: str) -> None:
    w = df.write.format(fmt).mode("overwrite")
    for k, v in opts.items():
        w = w.option(k, v)
    w.save(path)


@pytest.mark.parametrize("fmt", ["fixedlen", "varlen", "awstape"])
def test_sink_overwrite_and_abort(spark, tmp_path, fmt):
    from hadoop_fixedlengthinputformat_spark.sources import (
        awstape,
        fixedlen,
        varlen,
    )

    for m in (fixedlen, varlen, awstape):
        m.register(spark)
    out = str(tmp_path / "out")

    def rows(lo, hi):
        return spark.range(lo, hi, 1, 2).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("g")
        )

    if fmt == "fixedlen":
        opts = {
            "recordLength": "6", "layout": "k:0:6:long",
            "partitionBy": "g", "statsSidecar": "true",
        }
        first = {**opts, "compression": "gzip"}
        data = rows
        # the NULL check runs before the task opens any part file
        bad = spark.createDataFrame([(1, None), (2, 0)], "k long, g long")
        error = "partitionBy column values cannot be NULL"
        old_kinds = (".fixed.gz", ".fixed.gz.stats.json")
    elif fmt == "varlen":
        opts = {
            "prefixLength": "6", "layout": "k:0:6:long",
            "includeTail": "false", "indexEvery": "2",
        }
        first = opts

        def data(lo, hi):
            return rows(lo, hi).select("k")

        # fails in the stage before the write
        bad = (
            spark.range(0, 4, 1, 1)
            .select(
                F.when(F.col("id") == 2, F.raise_error(F.lit("boom")))
                .otherwise(F.col("id"))
                .alias("k")
            )
            .repartition(1)
        )
        error = "boom"
        old_kinds = (".rdw", ".rdw.rdx.json")
    else:
        opts = {}  # raw RECFM=U: each row's 'value' is one tape block
        first = opts

        def data(lo, hi):
            return rows(lo, hi).select(
                F.format_string("%06d", "k").cast("binary").alias("value")
            )

        bad = spark.createDataFrame([(b"",)], "value binary")
        error = "at least one byte"
        old_kinds = (".aws",)

    def read_keys():
        r = spark.read.format(fmt).option("includeOffset", "false")
        for k, v in opts.items():
            r = r.option(k, v)
        df = r.load(out)
        if fmt == "awstape":
            return sorted(int(bytes(x.value)) for x in df.collect())
        return sorted(x.k for x in df.select("k").collect())

    _write(data(0, 10), fmt, first, out)
    old = _files(out)
    for kind in old_kinds:
        assert any(f.endswith(kind) for f in old), (kind, old)
    if fmt == "fixedlen":
        assert all(f.startswith(("g=0/", "g=1/")) for f in old), old

    with open(os.path.join(out, "_keep.txt"), "w") as f:
        f.write("not a part file")
    nested = None
    if fmt != "fixedlen":
        nested = os.path.join("sub", f"part-00000-0000000000{old_kinds[0]}")
        os.makedirs(os.path.join(out, "sub"))
        with open(os.path.join(out, nested), "wb") as f:
            f.write(b"x")

    _write(data(100, 110), fmt, opts, out)
    now = _files(out)
    assert not set(old) & set(now), sorted(set(old) & set(now))
    assert "_keep.txt" in now
    if nested is not None:
        assert nested in now
    assert read_keys() == list(range(100, 110))

    with pytest.raises(Exception, match=error):
        _write(bad.coalesce(1), fmt, opts, out)
    assert _files(out) == now
    assert not [f for f in now if ".tmp-" in f]
    assert read_keys() == list(range(100, 110))


class _FullDisk:
    """A file opened for writing whose every write fails."""

    def __init__(self, fh):
        self.fh = fh

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.fh.close()

    def write(self, data):
        raise OSError(errno.ENOSPC, "No space left on device")


@pytest.mark.parametrize(
    "fmt", ["fixedlen", "fixedlen-partitioned", "varlen", "awstape"]
)
def test_failed_write_task_leaves_no_tmp(spark, tmp_path, monkeypatch, fmt):
    """A task that raises after opening its tmp removes that tmp (and
    its sidecar tmp) itself: the job abort only sees the tmps of tasks
    that reported, so a failing task is the one case it cannot clean.
    A partitionBy task removes the parts of every directory it opened."""
    from hadoop_fixedlengthinputformat_spark.sources import (
        awstape,
        filesource,
        fixedlen,
        varlen,
    )

    out = str(tmp_path / "out")
    if fmt == "awstape":
        # the tape image is built in memory and written in one call, so
        # no bad row can fail after the tmp opens: fail that write, in
        # process, with the tmp already created
        opened: list[str] = []

        def full_disk_open(path, mode="r", *args, **kwargs):
            opened.append(path)
            return _FullDisk(open(path, mode, *args, **kwargs))

        class _Task:
            def partitionId(self):
                return 0

            def taskAttemptId(self):
                return 7

        monkeypatch.setattr(TaskContext, "get", staticmethod(_Task))
        monkeypatch.setattr(filesource, "open", full_disk_open, raising=False)
        writer = awstape.AwsTapeDataSource({"path": out}).writer(None, False)
        with pytest.raises(OSError, match="No space left"):
            writer.write(iter([pa.RecordBatch.from_pylist([{"value": b"abc"}, {"value": b"defg"}])]))
        assert len(opened) == 1 and ".tmp-" in opened[0], opened
        assert os.listdir(out) == []
        return
    fixedlen.register(spark)
    varlen.register(spark)
    if fmt == "fixedlen-partitioned":
        # one batch: directory g=0 is written, then the row routed to
        # g=1 does not fit its field after g=1's part has opened
        df = spark.createDataFrame(
            [(1, 0), (2, 0), (12345678, 1)], "k long, g long"
        )
        with pytest.raises(Exception, match="does not fit field k"):
            _write(df.coalesce(1), "fixedlen", {
                "recordLength": "6", "layout": "k:0:6:long",
                "partitionBy": "g", "statsSidecar": "true",
            }, out)
        assert sorted(os.listdir(out)) == ["g=0", "g=1"]
        assert not [f for f in _files(out) if ".tmp-" in f], _files(out)
        return
    if fmt == "fixedlen":
        # raw mode: the second record has the wrong length
        values = [b"abcdef", b"abc"]
        opts = {"recordLength": "6", "statsSidecar": "true"}
        error = "expected recordLength=6"
    else:
        # recfm=V: good rows, then one record over the 64 KiB RDW limit
        values = [b"x" * 10, b"y" * 300, b"z" * 70_000]
        opts = {"recfm": "v", "indexEvery": "1"}
        error = "16-bit"
    df = spark.createDataFrame([(v,) for v in values], "value binary")
    with pytest.raises(Exception, match=error):
        _write(df.coalesce(1), fmt, opts, out)
    assert os.path.isdir(out)
    assert not [f for f in _files(out) if ".tmp-" in f], _files(out)
