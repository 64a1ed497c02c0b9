"""Pins for the Arrow-batch sinks.

* Stats sidecars: ``FixedLengthWriter`` takes Arrow batches, and each
  stats block takes its bounds from ``pc.min_max`` over its slices.  The
  sidecar must equal plain-Python min/max over the same rows, block by
  block: a block that straddles two batches, an all-NaN block, 0.0 and
  -0.0 in one block (the first one seen is kept), strings with
  trailing blanks (kept as they read back), and an empty part.
* Stream sink: the fixedlen stream sink is a
  ``DataSourceStreamArrowWriter``, and a micro-batch replayed after a
  lost commit rewrites its own ``batch-{id}-part-{p}`` files.
* Error order: a sink rejects the first bad record in row order, as a
  row-at-a-time sink would, even when a later row of the same batch is
  bad in another way (a raw ``value`` of the wrong length before a NULL
  one; a record over the RDW limit before a prefix that does not fit).
"""

from __future__ import annotations

import datetime
import json
import math
import os

import pyarrow as pa
import pytest
from pyspark.sql.datasource import DataSourceArrowWriter, DataSourceStreamArrowWriter

from hadoop_fixedlengthinputformat_spark.sources import filesource, fixedlen, stats, varlen

LAYOUT = "x:0:8:comp2,s:8:4:string,d:12:10:date,k:22:6:long"
RL = 28
BLOCK = 4
SCHEMA = pa.schema([("x", pa.float64()), ("s", pa.string()), ("d", pa.date32()), ("k", pa.int64())])


def _reference(rows: list[dict], block: int) -> dict:
    """The sidecar payload by plain-Python min/max per block (``min``
    and ``max`` keep the first of equal values)."""
    blocks = []
    for lo in range(0, len(rows), block):
        chunk = rows[lo : lo + block]
        cols = {}
        for name in ("x", "s", "d", "k"):
            vals = [r[name].rstrip(" ") if name == "s" else r[name] for r in chunk]
            nums = [v for v in vals if not (isinstance(v, float) and math.isnan(v))]
            lo_v, hi_v = (min(nums), max(nums)) if nums else (None, None)
            if name == "d" and nums:
                lo_v, hi_v = lo_v.isoformat(), hi_v.isoformat()
            cols[name] = {"min": lo_v, "max": hi_v, "nan": len(nums) < len(vals)}
        blocks.append({"n": len(chunk), "cols": cols})
    return {"version": 2, "block_records": block, "blocks": blocks}


def _write(tmp_path, monkeypatch, batches) -> tuple[bytes, dict]:
    """Run the fixedlen writer in process on ``batches``; the part's
    bytes and its sidecar."""
    tmp, final = str(tmp_path / "part.tmp"), str(tmp_path / "part.fixed")
    monkeypatch.setattr(filesource, "_part_paths", lambda *a: (tmp, final))
    opts = fixedlen._Options.parse({
        "recordlength": str(RL), "layout": LAYOUT,
        "statssidecar": "true", "statsblockrecords": str(BLOCK),
    })
    writer = fixedlen.FixedLengthWriter(opts, str(tmp_path), overwrite=False)
    assert isinstance(writer, DataSourceArrowWriter)
    writer.write(iter(batches))
    with open(tmp, "rb") as f:
        data = f.read()
    with open(stats.sidecar_path(tmp)) as f:
        return data, json.load(f)


def _rows() -> list[dict]:
    nan, day = math.nan, datetime.date(2020, 1, 1)
    xs = [
        1.5, 2.5, 0.5,  # block 0 straddles batches 0 and 1
        -1.0,
        nan, nan, nan, nan,  # an all-NaN block
        0.0, -0.0, 3.0, nan,  # 0.0 seen before -0.0
        -0.0, 0.0, -2.0, 0.0,  # -0.0 seen before 0.0
        7.0,
    ]
    strs = ["b  ", "a", "a ", "c", "z", "zz  ", "y", "x", "   ", "q", "p ", "p", "m", "n", "o", "r", "s"]
    return [
        {"x": x, "s": s, "d": day + datetime.timedelta(days=(i * 37) % 11), "k": (i * 7) % 5 - 2}
        for i, (x, s) in enumerate(zip(xs, strs))
    ]


def _dumps(payload: dict) -> str:
    # text, so that -0.0 and 0.0 differ
    return json.dumps(payload, sort_keys=True)


@pytest.mark.parametrize("cuts", [(3, 9, 13, 17), (1, 2, 3, 4, 5, 6, 7, 8, 17), (17,)])
def test_sidecar_equals_python_min_max(tmp_path, monkeypatch, cuts):
    rows = _rows()
    bounds = [0, *cuts]
    batches = [
        pa.RecordBatch.from_pylist(rows[a:b], schema=SCHEMA) for a, b in zip(bounds, bounds[1:])
    ]
    data, sidecar = _write(tmp_path, monkeypatch, batches)
    assert len(data) == RL * len(rows)
    assert _dumps(sidecar) == _dumps(_reference(rows, BLOCK))
    x = [b["cols"]["x"] for b in sidecar["blocks"]]
    assert x[1] == {"min": None, "max": None, "nan": True}
    # the ±0.0 blocks keep the sign of the first zero seen
    assert (str(x[2]["min"]), str(x[3]["max"])) == ("0.0", "-0.0")
    assert sidecar["blocks"][0]["cols"]["s"] == {"min": "a", "max": "c", "nan": False}


@pytest.mark.parametrize("batches", [[], [pa.RecordBatch.from_pylist([], schema=SCHEMA)]])
def test_empty_part_has_an_empty_sidecar(tmp_path, monkeypatch, batches):
    data, sidecar = _write(tmp_path, monkeypatch, batches)
    assert data == b""
    assert sidecar == _reference([], BLOCK)


def test_stream_replay_rewrites_its_own_parts(spark, tmp_path):
    """A micro-batch whose commit was lost replays through the Arrow
    stream sink into the same ``batch-{id}-part-{p}`` names with the
    same bytes, so the output holds each row once."""
    fixedlen.register(spark)
    ds = fixedlen.FixedLengthDataSource({"path": str(tmp_path), "recordlength": "10", "layout": "v:0:10:long"})
    assert isinstance(ds.streamWriter(None, False), DataSourceStreamArrowWriter)
    src, out, ckpt = (str(tmp_path / n) for n in ("src", "out", "ckpt"))
    os.makedirs(src)

    def drop(name, lo, hi):
        with open(os.path.join(src, name), "wb") as f:
            f.write(b"".join(b"%010d" % i for i in range(lo, hi)))

    def run():
        q = (
            spark.readStream.format("fixedlen")
            .options(recordLength="10", layout="v:0:10:long", partitionedStream="true",
                     includeOffset="false")
            .load(src)
            .writeStream.format("fixedlen")
            .options(recordLength="10", layout="v:0:10:long")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(out)
        )
        q.awaitTermination()

    def parts():
        return {
            fn: open(os.path.join(out, fn), "rb").read()
            for fn in sorted(os.listdir(out)) if fn.endswith(".fixed")
        }

    drop("a.fixed", 0, 30)
    run()
    drop("b.fixed", 30, 45)
    run()
    before = parts()
    assert before and all(fn.startswith(("batch-00000000-part-", "batch-00000001-part-")) for fn in before)
    # lose batch 1's commit: the restart replays it
    for fn in ("1", ".1.crc"):
        if os.path.exists(os.path.join(ckpt, "commits", fn)):
            os.remove(os.path.join(ckpt, "commits", fn))
    run()
    assert os.path.exists(os.path.join(ckpt, "commits", "1"))  # batch 1 ran again
    assert parts() == before
    got = sorted(r.v for r in spark.read.format("fixedlen").options(
        recordLength="10", layout="v:0:10:long", includeOffset="false").load(out).collect())
    assert got == list(range(45))


def test_raw_value_length_fires_before_a_later_null(tmp_path, monkeypatch):
    tmp, final = str(tmp_path / "part.tmp"), str(tmp_path / "part.fixed")
    monkeypatch.setattr(filesource, "_part_paths", lambda *a: (tmp, final))
    opts = fixedlen._Options.parse({"recordlength": "6"})
    writer = fixedlen.FixedLengthWriter(opts, str(tmp_path), overwrite=False)
    batch = pa.RecordBatch.from_pydict({"value": pa.array([b"abcdef", b"abc", None], pa.binary())})
    with pytest.raises(ValueError, match="'value' is 3 bytes, expected recordLength=6"):
        writer.write(iter([batch]))


@pytest.mark.parametrize("layout", [None, "k:0:2:int"])
def test_framing_error_fires_before_a_later_bad_row(tmp_path, monkeypatch, layout):
    """Row 1 is over the 16-bit RDW limit; row 2 is a NULL raw value or
    a prefix that does not fit its field."""
    tmp, final = str(tmp_path / "part.tmp"), str(tmp_path / "part.rdw")
    monkeypatch.setattr(filesource, "_part_paths", lambda *a: (tmp, final))
    big, small = b"z" * 70_000, b"y" * 5
    if layout is None:
        opts = varlen._VOptions.parse({"recfm": "v"})
        batch = pa.RecordBatch.from_pydict({"value": pa.array([small, big, None], pa.binary())})
    else:
        opts = varlen._VOptions.parse({"recfm": "v", "prefixlength": "2", "layout": layout})
        batch = pa.RecordBatch.from_pylist([
            {"k": 1, "record_tail": small}, {"k": 2, "record_tail": big},
            {"k": 123, "record_tail": small},
        ])
    writer = varlen.VarLenWriter(opts, str(tmp_path), overwrite=False)
    with pytest.raises(ValueError, match="16-bit"):
        writer.write(iter([batch]))


def test_partition_by_nan_rows_share_one_part(spark, tmp_path):
    """partitionBy sinks are keyed by their directory, so every NaN row
    (NaN != NaN) lands in the one ``g=nan`` part instead of reopening,
    and truncating, that part's tmp once per row."""
    fixedlen.register(spark)
    out = str(tmp_path / "out")
    opts = {"recordLength": "4", "layout": "k:0:4:int"}
    df = spark.createDataFrame([(1, math.nan), (2, math.nan), (3, 1.0)], "k long, g double")
    df.coalesce(1).write.format("fixedlen").mode("append").options(partitionBy="g", **opts).save(out)
    back = spark.read.format("fixedlen").options(includeOffset="false", **opts).load(out)
    assert sorted((r.k, r.g) for r in back.collect()) == [(1, "nan"), (2, "nan"), (3, "1.0")]


def test_partition_groups_are_directories():
    """One group per directory text, in order of first appearance:
    -0.0 and 0.0 compare equal but name two directories."""
    batch = pa.RecordBatch.from_pydict({
        "k": [1, 2, 3, 4, 5, 6],
        "g": [math.nan, -0.0, 0.0, math.nan, 1.0, -0.0],
    })
    groups = fixedlen._partition_groups(batch, ("g",))
    assert [(sub, rows.column("k").to_pylist()) for sub, rows in groups] == [
        ("g=nan", [1, 4]), ("g=-0.0", [2, 6]), ("g=0.0", [3]), ("g=1.0", [5]),
    ]
