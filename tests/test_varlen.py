"""varlen (RDW / RECFM=V) source: round trips, split-by-sidecar
correctness, RDW validation, codec streaming, and raw mode."""

from __future__ import annotations

import gzip
import json
import os
import random
import re
import struct

import pytest

from hadoop_fixedlengthinputformat_spark.sources import varlen
from hadoop_fixedlengthinputformat_spark.sources.varlen import (
    VarLenReader,
    _VOptions,
)

PFX_LEN = 10
PFX_LAYOUT = "k:0:6:long,tag:6:4:string"


def _rec(k: int, tag: str, tail: bytes) -> bytes:
    prefix = f"{k:06d}{tag:<4}".encode()
    total = 4 + len(prefix) + len(tail)
    return struct.pack(">HH", total, 0) + prefix + tail


def _write_file(path: str, recs: list[bytes], index_every: int = 0) -> None:
    with open(path, "wb") as f:
        f.write(b"".join(recs))
    if index_every:
        offsets, pos = [], 0
        for i, r in enumerate(recs):
            if i % index_every == 0:
                offsets.append(pos)
            pos += len(r)
        with open(path + ".rdx.json", "w") as f:
            json.dump(
                {
                    "version": 1,
                    "every": index_every,
                    "prefix_length": PFX_LEN,
                    "offsets": offsets,
                    "n_records": len(recs),
                    "data_bytes": pos,
                },
                f,
            )


def _read(spark, path, **extra):
    varlen.register(spark)
    r = (
        spark.read.format("varlen")
        .option("prefixLength", str(PFX_LEN))
        .option("layout", PFX_LAYOUT)
    )
    for k, v in extra.items():
        r = r.option(k, v)
    return r.load(path)


def _rand_recs(n: int, seed: int = 7) -> list[bytes]:
    rng = random.Random(seed)
    recs = []
    for i in range(n):
        tail = bytes(rng.randrange(256) for _ in range(rng.choice([0, 1, 3, 50, 400])))
        recs.append(_rec(i, f"t{i % 5}", tail))
    return recs


def test_round_trip_offsets_and_tails(spark, tmp_path):
    recs = _rand_recs(200)
    p = str(tmp_path / "data.rdw")
    _write_file(p, recs)
    rows = sorted(_read(spark, p).collect(), key=lambda r: r.k)
    assert len(rows) == 200
    pos = 0
    for i, r in enumerate(rows):
        assert r.k == i and r.tag == f"t{i % 5}"
        assert r.record_offset == pos
        assert bytes(r.record_tail) == recs[i][4 + PFX_LEN:]
        pos += len(recs[i])


def test_indexed_read_splits_and_tiles_exactly(spark, tmp_path):
    recs = _rand_recs(500, seed=13)
    p = str(tmp_path / "data.rdw")
    _write_file(p, recs, index_every=32)
    opts = _VOptions.parse(
        {"prefixlength": str(PFX_LEN), "layout": PFX_LAYOUT,
         "maxpartitionbytes": "4096"}
    )
    parts = VarLenReader(opts, p).partitions()
    assert len(parts) > 4
    # partitions tile [0, size) exactly, each boundary a record start
    spans = sorted((q.start, q.end) for q in parts)
    assert spans[0][0] == 0 and spans[-1][1] == os.path.getsize(p)
    for (s1, e1), (s2, _e2) in zip(spans, spans[1:]):
        assert e1 == s2
    df = _read(spark, p, maxPartitionBytes="4096")
    assert df.rdd.getNumPartitions() == len(parts)
    got = sorted((r.k, r.record_offset) for r in df.collect())
    pos, want = 0, []
    for i, r in enumerate(recs):
        want.append((i, pos))
        pos += len(r)
    assert got == want


def test_stale_sidecar_falls_back_to_unsplit(spark, tmp_path):
    recs = _rand_recs(100, seed=3)
    p = str(tmp_path / "data.rdw")
    _write_file(p, recs, index_every=8)
    # grow the file behind the sidecar's back
    with open(p, "ab") as f:
        f.write(_rec(100, "t0", b"xx"))
    opts = _VOptions.parse(
        {"prefixlength": str(PFX_LEN), "layout": PFX_LAYOUT,
         "maxpartitionbytes": "1024"}
    )
    parts = VarLenReader(opts, p).partitions()
    assert len(parts) == 1  # stale data_bytes -> never misread
    assert _read(spark, p).count() == 101


def test_sink_round_trip_and_overwrite(spark, tmp_path):
    out = str(tmp_path / "sunk")
    df = spark.createDataFrame(
        [(i, f"t{i % 3}", bytes([i % 256]) * (i % 37)) for i in range(300)],
        "k long, tag string, record_tail binary",
    )
    (
        df.write.format("varlen")
        .option("prefixLength", str(PFX_LEN))
        .option("layout", PFX_LAYOUT)
        .option("indexEvery", "16")
        .mode("overwrite")
        .save(out)
    )
    # sidecars exist and are excluded from the file listing
    names = os.listdir(out)
    assert any(n.endswith(".rdx.json") for n in names)
    back = _read(spark, out, maxPartitionBytes="2048")
    got = sorted((r.k, bytes(r.record_tail)) for r in back.collect())
    assert got == [(i, bytes([i % 256]) * (i % 37)) for i in range(300)]
    # overwrite replaces, never appends
    df.limit(10).write.format("varlen").option(
        "prefixLength", str(PFX_LEN)
    ).option("layout", PFX_LAYOUT).mode("overwrite").save(out)
    assert _read(spark, out).count() == 10


def test_empty_write_reads_back_empty(spark, tmp_path):
    out = str(tmp_path / "empty")
    df = spark.createDataFrame([], "k long, tag string, record_tail binary")
    (
        df.write.format("varlen")
        .option("prefixLength", str(PFX_LEN))
        .option("layout", PFX_LAYOUT)
        .mode("overwrite")
        .save(out)
    )
    assert _read(spark, out).count() == 0


def test_gzip_stream_read(spark, tmp_path):
    recs = _rand_recs(150, seed=99)
    p = str(tmp_path / "data.rdw.gz")
    with gzip.open(p, "wb") as f:
        f.write(b"".join(recs))
    rows = sorted(_read(spark, p).collect(), key=lambda r: r.k)
    assert [r.k for r in rows] == list(range(150))
    pos = 0
    for i, r in enumerate(rows):
        assert r.record_offset == pos  # uncompressed-stream positions
        pos += len(recs[i])


def test_rejects_spanned_segment_bytes(spark, tmp_path):
    # segment-control code != 0 under recfm=V: error must point at VS
    p = str(tmp_path / "bad.rdw")
    rec = _rec(1, "t1", b"abc")
    bad = rec[:2] + b"\x01\x00" + rec[4:]
    _write_file(p, [bad])
    with pytest.raises(Exception, match="recfm='VS'|segment-control"):
        _read(spark, p).collect()
    # nonzero RESERVED byte is corruption in every recfm
    p2 = str(tmp_path / "bad2.rdw")
    bad2 = rec[:2] + b"\x00\x01" + rec[4:]
    _write_file(p2, [bad2])
    with pytest.raises(Exception, match="reserved"):
        _read(spark, p2).collect()


def test_rejects_truncated_record_and_rdw(spark, tmp_path):
    p1 = str(tmp_path / "t1.rdw")
    _write_file(p1, [_rec(1, "t1", b"abcdef")[:-3]])
    with pytest.raises(Exception, match="mid-record"):
        _read(spark, p1).collect()
    p2 = str(tmp_path / "t2.rdw")
    _write_file(p2, [_rec(1, "t1", b""), b"\x00\x13"])
    with pytest.raises(Exception, match="mid-RDW"):
        _read(spark, p2).collect()


def test_rejects_record_shorter_than_prefix(spark, tmp_path):
    p = str(tmp_path / "short.rdw")
    _write_file(p, [struct.pack(">HH", 4 + 5, 0) + b"12345"])
    with pytest.raises(Exception, match=re.escape(
        f"varlen: record at offset 0 in {p!r} is 5 bytes, shorter than the "
        f"declared prefix ({PFX_LEN})"
    )):
        _read(spark, p).collect()


def test_write_rejects_oversized_record(spark, tmp_path):
    out = str(tmp_path / "big")
    df = spark.createDataFrame(
        [(1, "t0", b"x" * 70000)], "k long, tag string, record_tail binary"
    )
    with pytest.raises(Exception, match="16-bit"):
        (
            df.write.format("varlen")
            .option("prefixLength", str(PFX_LEN))
            .option("layout", PFX_LAYOUT)
            .mode("overwrite")
            .save(out)
        )


def test_raw_mode_round_trip(spark, tmp_path):
    out = str(tmp_path / "raw")
    payloads = [bytes([i]) * (i % 23) for i in range(120)]
    df = spark.createDataFrame([(p,) for p in payloads], "value binary")
    df.write.format("varlen").mode("overwrite").save(out)
    varlen.register(spark)
    back = spark.read.format("varlen").load(out)
    got = sorted(bytes(r.value) for r in back.collect())
    assert got == sorted(payloads)


def test_option_validation():
    with pytest.raises(ValueError, match="prefixLength"):
        _VOptions.parse({"layout": PFX_LAYOUT})
    # the inverse: prefixLength in raw mode would be silently ignored
    with pytest.raises(ValueError, match="requires 'layout'"):
        _VOptions.parse({"prefixlength": str(PFX_LEN)})
    with pytest.raises(ValueError, match="clashes"):
        _VOptions.parse(
            {"layout": PFX_LAYOUT, "prefixlength": str(PFX_LEN),
             "tailcolumn": "k"}
        )
    with pytest.raises(ValueError, match="single-byte"):
        _VOptions.parse(
            {"layout": PFX_LAYOUT, "prefixlength": str(PFX_LEN),
             "encoding": "utf-16"}
        )


def test_ebcdic_prefix_decode(spark, tmp_path):
    # cp037-encoded prefix, binary tail untouched by the charset
    p = str(tmp_path / "ebc.rdw")
    prefix = "000042helo".encode("cp037")
    tail = b"\x01\x02\x03"
    total = 4 + len(prefix) + len(tail)
    with open(p, "wb") as f:
        f.write(struct.pack(">HH", total, 0) + prefix + tail)
    rows = _read(spark, p, encoding="cp037").collect()
    assert len(rows) == 1
    assert rows[0].k == 42 and rows[0].tag == "helo"
    assert bytes(rows[0].record_tail) == tail


def test_stream_tail_admits_only_whole_records(tmp_path):
    from hadoop_fixedlengthinputformat_spark.sources.varlen import (
        VarLenStreamReader,
    )

    p = str(tmp_path / "tail.rdw")
    r0, r1, r2 = _rec(0, "t0", b"aaa"), _rec(1, "t1", b"bbbb"), _rec(2, "t2", b"c")
    with open(p, "wb") as f:
        f.write(r0 + r1[:5])  # r1 half-written
    opts = _VOptions.parse({"prefixlength": str(PFX_LEN), "layout": PFX_LAYOUT})
    rd = VarLenStreamReader(opts, p)
    rows, off = rd.read(rd.initialOffset())
    rows = list(rows)
    assert len(rows) == 1 and off == {"pos": len(r0)}
    with open(p, "ab") as f:
        f.write(r1[5:] + r2)
    rows2, off2 = rd.read(off)
    assert [r[1] for r in rows2] == [1, 2]  # k column after offset
    assert off2 == {"pos": len(r0) + len(r1) + len(r2)}
    # restart replay honors END exactly even though the file grew
    replay = list(rd.readBetweenOffsets({"pos": 0}, {"pos": len(r0)}))
    assert len(replay) == 1


def test_stream_backlog_drains_across_batches(tmp_path, monkeypatch):
    """A large backlog at stream start must NOT land in one micro-batch:
    read() caps the per-batch byte span and later batches resume at the
    returned record-start offset (ADVICE r3)."""
    from hadoop_fixedlengthinputformat_spark.sources import varlen as vmod
    from hadoop_fixedlengthinputformat_spark.sources.varlen import (
        VarLenStreamReader,
    )

    recs = [_rec(i, f"t{i % 5}", b"x" * 40) for i in range(100)]
    p = str(tmp_path / "backlog.rdw")
    _write_file(p, recs)
    monkeypatch.setattr(vmod, "READ_CHUNK_TARGET", 600)
    opts = _VOptions.parse({"prefixlength": str(PFX_LEN), "layout": PFX_LAYOUT})
    rd = VarLenStreamReader(opts, p)
    seen, off, n_batches = [], rd.initialOffset(), 0
    while True:
        rows, nxt = rd.read(off)
        rows = list(rows)
        if not rows:
            assert nxt == off
            break
        seen.extend(rows)
        off, n_batches = nxt, n_batches + 1
    assert [r[1] for r in seen] == list(range(100))  # no loss, no dup
    assert n_batches > 5  # actually drained in capped chunks
    assert off == {"pos": sum(len(r) for r in recs)}


def test_build_index_makes_foreign_file_splittable(tmp_path):
    from hadoop_fixedlengthinputformat_spark.sources.varlen import build_index

    recs = _rand_recs(300, seed=21)
    p = str(tmp_path / "foreign.rdw")
    _write_file(p, recs)  # no sidecar
    opts = _VOptions.parse(
        {"prefixlength": str(PFX_LEN), "layout": PFX_LAYOUT,
         "maxpartitionbytes": "4096"}
    )
    assert len(VarLenReader(opts, p).partitions()) == 1
    payload = build_index(p, every=16)
    assert payload["n_records"] == 300
    assert payload["data_bytes"] == os.path.getsize(p)
    assert len(VarLenReader(opts, p).partitions()) > 3


def _vb_block(recs: list[bytes]) -> bytes:
    body = b"".join(recs)
    return struct.pack(">HH", 4 + len(body), 0) + body


def test_vb_round_trip_and_offsets(spark, tmp_path):
    """VB blocks decode to the same records as the bare V stream, with
    record_offset pointing at each RDW *inside* its block."""
    recs = _rand_recs(50)
    p = str(tmp_path / "blocked.vb")
    blocks, cur = [], []
    size = 0
    for r in recs:  # ~4 records per block
        cur.append(r)
        if len(cur) == 4:
            blocks.append(_vb_block(cur))
            cur = []
    if cur:
        blocks.append(_vb_block(cur))
    with open(p, "wb") as f:
        f.write(b"".join(blocks))
    df = _read(spark, p, recfm="vb")
    rows = sorted(df.collect(), key=lambda r: r.record_offset)
    assert [r.k for r in rows] == list(range(50))
    # offsets: first record of first block sits after its BDW
    assert rows[0].record_offset == 4
    # each record's offset + RDW + payload == next record's offset minus
    # any intervening BDW (4 bytes at block boundaries)
    pos = 4
    for i, (r, rec) in enumerate(zip(rows, recs)):
        assert r.record_offset in (pos, pos + 4)  # +4 when a BDW intervenes
        pos = r.record_offset + len(rec)


def test_vb_rejects_record_spanning_block(spark, tmp_path):
    """A record whose RDW claims more bytes than remain in its block is
    VBS-style spanning — rejected."""
    r0 = _rec(0, "t0", b"abc")
    bad_body = r0[:-2]  # truncate inside the record
    blob = struct.pack(">HH", 4 + len(bad_body), 0) + bad_body
    p = str(tmp_path / "span.vb")
    with open(p, "wb") as f:
        f.write(blob)
    with pytest.raises(Exception, match="overruns its block|mid-record"):
        _read(spark, p, recfm="vb").collect()


def test_vb_sink_writes_blocks_and_splittable_sidecar(spark, tmp_path):
    """OUR VB sink blocks records, writes block-start sidecar offsets,
    and the reader plans >1 record-aligned partition from them."""
    from hadoop_fixedlengthinputformat_spark.sources import varlen as vmod

    varlen.register(spark)
    n = 400
    df = spark.createDataFrame(
        [(i, f"t{i % 5}", bytes([i % 251]) * (20 + i % 60)) for i in range(n)],
        "k long, tag string, record_tail binary",
    )
    out = str(tmp_path / "vb_out")
    (
        df.write.format("varlen")
        .option("prefixLength", str(PFX_LEN))
        .option("layout", PFX_LAYOUT)
        .option("recfm", "vb")
        .option("blockSize", "512")
        .option("indexEvery", "32")
        .mode("overwrite")
        .save(out)
    )
    part = [f for f in os.listdir(out) if f.endswith(".rdw")]
    assert len(part) >= 1
    idx_files = [f for f in os.listdir(out) if f.endswith(".rdx.json")]
    assert idx_files
    # sidecar offsets are block starts: byte 0 must be one, and every
    # offset must land on a BDW (validated by reading the partitioned way)
    back = (
        spark.read.format("varlen")
        .option("prefixLength", str(PFX_LEN))
        .option("layout", PFX_LAYOUT)
        .option("recfm", "vb")
        .option("maxPartitionBytes", "2048")
        .load(out)
    )
    assert back.rdd.getNumPartitions() > 1
    got = sorted(r.k for r in back.collect())
    assert got == list(range(n))


def test_vb_stream_admits_only_whole_blocks(tmp_path):
    from hadoop_fixedlengthinputformat_spark.sources.varlen import (
        VarLenStreamReader,
        _VOptions,
    )

    b0 = _vb_block([_rec(0, "t0", b"aa"), _rec(1, "t1", b"bb")])
    b1 = _vb_block([_rec(2, "t2", b"cc")])
    p = str(tmp_path / "tail.vb")
    with open(p, "wb") as f:
        f.write(b0 + b1[:5])  # second block half-written
    opts = _VOptions.parse(
        {"prefixlength": str(PFX_LEN), "layout": PFX_LAYOUT, "recfm": "vb"}
    )
    rd = VarLenStreamReader(opts, p)
    rows, off = rd.read(rd.initialOffset())
    assert [r[1] for r in rows] == [0, 1]
    assert off == {"pos": len(b0)}  # resume at the next BDW, never mid-block
    with open(p, "ab") as f:
        f.write(b1[5:])
    rows2, off2 = rd.read(off)
    assert [r[1] for r in rows2] == [2]
    assert off2 == {"pos": len(b0) + len(b1)}


def test_vb_build_index_foreign_file(tmp_path):
    from hadoop_fixedlengthinputformat_spark.sources.varlen import build_index

    recs = _rand_recs(100)
    blocks = [_vb_block(recs[i : i + 5]) for i in range(0, 100, 5)]
    p = str(tmp_path / "foreign.vb")
    with open(p, "wb") as f:
        f.write(b"".join(blocks))
    payload = build_index(p, every=10, recfm="vb")
    assert payload["n_records"] == 100
    assert payload["offsets"][0] == 0
    # every offset is a block start
    starts, pos = set(), 0
    for b in blocks:
        starts.add(pos)
        pos += len(b)
    assert set(payload["offsets"]) <= starts
    assert payload["data_bytes"] == pos


def test_vb_option_validation():
    from hadoop_fixedlengthinputformat_spark.sources.varlen import _VOptions

    with pytest.raises(ValueError, match="recfm"):
        _VOptions.parse({"recfm": "fb"})
    with pytest.raises(ValueError, match="blockSize"):
        _VOptions.parse(
            {"recfm": "vb", "blocksize": "8",
             "prefixlength": str(PFX_LEN), "layout": PFX_LAYOUT}
        )


def test_vb_gzip_whole_file_stream(spark, tmp_path):
    """VB + gzip: the codec layer is orthogonal — a .gz VB file reads as
    one whole-file partition, the block walk running on the
    decompressed stream."""
    recs = _rand_recs(60, seed=21)
    blocks = [_vb_block(recs[i : i + 6]) for i in range(0, 60, 6)]
    p = str(tmp_path / "blocked.vb.gz")
    with gzip.open(p, "wb") as f:
        f.write(b"".join(blocks))
    df = _read(spark, p, recfm="vb", includeOffset="false")
    assert df.rdd.getNumPartitions() == 1
    assert sorted(r.k for r in df.collect()) == list(range(60))


def test_vb_random_packing_round_trip(spark, tmp_path):
    """Property: random records greedily packed into random block sizes
    always round-trip with correct per-record values — regardless of how
    records fall across block boundaries."""
    import random as _random

    rng = _random.Random(404)
    for trial in range(4):
        n = rng.randrange(20, 120)
        block_size = rng.choice([128, 256, 512, 1024])
        recs = [
            _rec(i, f"t{i % 7}", bytes(rng.randrange(256) for _ in
                                       range(rng.randrange(0, 60))))
            for i in range(n)
        ]
        blocks, cur = [], []
        cur_len = 4
        for r in recs:
            if cur and cur_len + len(r) > block_size:
                blocks.append(_vb_block(cur))
                cur, cur_len = [], 4
            cur.append(r)
            cur_len += len(r)
        if cur:
            blocks.append(_vb_block(cur))
        p = str(tmp_path / f"prop{trial}.vb")
        with open(p, "wb") as f:
            f.write(b"".join(blocks))
        rows = sorted(
            _read(spark, p, recfm="vb").collect(),
            key=lambda r: r.record_offset,
        )
        assert [r.k for r in rows] == list(range(n))
        for r, rec in zip(rows, recs):
            assert bytes(r.record_tail) == rec[4 + PFX_LEN:]


# ---------------------------------------------------------------- VS / VBS


def _sdw(code: int, data: bytes) -> bytes:
    return struct.pack(">HBB", 4 + len(data), code, 0) + data


def _bdw(body: bytes) -> bytes:
    return struct.pack(">HH", 4 + len(body), 0) + body


def _spanned_rows(n: int, seed: int = 11, big_every: int = 0):
    """(k, tail) rows with assorted tail sizes; big_every > 0 plants
    records larger than both the 16-bit descriptor limit and any block."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        size = rng.choice([0, 1, 7, 90, 900, 3000])
        if big_every and i % big_every == big_every - 1:
            size = 70000 + rng.randrange(5000)
        rows.append((i, bytes((i + j) % 256 for j in range(size))))
    return rows


@pytest.mark.parametrize("recfm,opts", [
    ("vs", {"segmentSize": "512"}),
    ("vbs", {"blockSize": "2048"}),
    ("vbs", {"blockSize": "2048", "segmentSize": "300"}),
])
def test_spanned_round_trip_with_oversized_records(spark, tmp_path, recfm, opts):
    """Write->read round trip where records EXCEED the 16-bit RDW limit
    and (for VBS) the block size — the capability V/VB cannot express."""
    rows = _spanned_rows(300, big_every=50)
    df = spark.createDataFrame(
        [(k, f"{k:06d}tttt".encode() + t) for k, t in rows],
        "k long, value binary",
    ).repartition(3)
    out = str(tmp_path / f"out_{recfm}")
    w = df.select("value").write.format("varlen").option("recfm", recfm)
    for kk, vv in opts.items():
        w = w.option(kk, vv)
    w.mode("overwrite").save(out)
    rd = (
        spark.read.format("varlen").option("recfm", recfm)
        .option("includeOffset", "false").load(out)
    )
    got = sorted(bytes(r.value) for r in rd.collect())
    want = sorted(f"{k:06d}tttt".encode() + t for k, t in rows)
    assert got == want


@pytest.mark.parametrize("recfm", ["vs", "vbs"])
def test_spanned_sidecar_splits_and_tiles_exactly(spark, tmp_path, recfm):
    rows = _spanned_rows(2000, seed=23, big_every=400)
    df = spark.createDataFrame(
        [(k, t) for k, t in rows], "k long, t binary"
    ).coalesce(1)
    out = str(tmp_path / f"split_{recfm}")
    (
        df.selectExpr("k", "t as record_tail")
        .write.format("varlen")
        .option("prefixLength", "8").option("layout", "k:0:8:long")
        .option("recfm", recfm).option("blockSize", "4096")
        .option("segmentSize", "1024").option("indexEvery", "64")
        .mode("overwrite").save(out)
    )
    rd = (
        spark.read.format("varlen")
        .option("prefixLength", "8").option("layout", "k:0:8:long")
        .option("recfm", recfm).option("includeOffset", "false")
        .option("maxPartitionBytes", "65536").load(out)
    )
    assert rd.rdd.getNumPartitions() > 1
    got = sorted((r.k, bytes(r.record_tail)) for r in rd.collect())
    assert got == sorted(rows)


@pytest.mark.parametrize("recfm", ["vs", "vbs"])
def test_spanned_build_index_foreign_file(tmp_path, recfm):
    """A sidecar-less spanned file indexes in one header walk; offsets
    are record starts (VS) / idle block starts (VBS)."""
    rows = _spanned_rows(500, seed=31, big_every=100)
    recs = []
    for k, t in rows:
        payload = struct.pack(">q", k) + t
        cap = 700 - 4
        chunks = [payload[i:i + cap] for i in range(0, len(payload), cap)] or [b""]
        for j, c in enumerate(chunks):
            code = 0 if len(chunks) == 1 else (
                1 if j == 0 else 2 if j == len(chunks) - 1 else 3)
            recs.append(_sdw(code, c))
    p = str(tmp_path / f"foreign_{recfm}.rdw")
    if recfm == "vs":
        with open(p, "wb") as f:
            f.write(b"".join(recs))
    else:
        with open(p, "wb") as f:
            block = bytearray()
            for s in recs:
                if block and 4 + len(block) + len(s) > 4096:
                    f.write(_bdw(bytes(block)))
                    block.clear()
                block.extend(s)
            if block:
                f.write(_bdw(bytes(block)))
    payload = varlen.build_index(p, every=50, recfm=recfm)
    assert payload["n_records"] == len(rows)
    assert payload["offsets"][0] == 0
    assert payload["data_bytes"] == os.path.getsize(p)
    # every offset must be a safe re-entry point: walk from each offset
    # to the next and count whole records
    opts = _VOptions.parse({
        "prefixlength": "8", "layout": "k:0:8:long", "recfm": recfm,
        "blocksize": "4096",
    })
    bounds = payload["offsets"] + [payload["data_bytes"]]
    n = 0
    for lo, hi in zip(bounds, bounds[1:]):
        with open(p, "rb") as f:
            f.seek(lo)
            for _off, _payload, _res in opts.framing.walk(
                f, lo, hi, p
            ):
                n += 1
    assert n == len(rows)


def test_spanned_sequence_violations_raise(spark, tmp_path):
    # middle with no open record
    p1 = str(tmp_path / "v1.rdw")
    with open(p1, "wb") as f:
        f.write(_sdw(3, b"00000001x"))
    with pytest.raises(Exception, match="no record open"):
        _read_spanned(spark, p1).collect()
    # first while a record is open
    p2 = str(tmp_path / "v2.rdw")
    with open(p2, "wb") as f:
        f.write(_sdw(1, b"00000001x") + _sdw(1, b"00000002y"))
    with pytest.raises(Exception, match="still open"):
        _read_spanned(spark, p2).collect()
    # EOF mid-record (batch mode = corruption)
    p3 = str(tmp_path / "v3.rdw")
    with open(p3, "wb") as f:
        f.write(_sdw(1, b"00000001x"))
    with pytest.raises(Exception, match="mid-spanned-record"):
        _read_spanned(spark, p3).collect()


def _read_spanned(spark, path, **extra):
    varlen.register(spark)
    r = (
        spark.read.format("varlen")
        .option("prefixLength", "8").option("layout", "k:0:8:string")
        .option("recfm", "vs")
    )
    for k, v in extra.items():
        r = r.option(k, v)
    return r.load(path)


def test_vbs_stream_holds_open_records_until_block_close(tmp_path):
    from hadoop_fixedlengthinputformat_spark.sources.varlen import (
        VarLenStreamReader,
    )

    p = str(tmp_path / "tail.rdw")
    opts = _VOptions.parse({
        "prefixlength": "4", "layout": "k:0:4:int", "recfm": "vbs",
        "blocksize": "64",
    })
    rd = VarLenStreamReader(opts, p)
    # block 1: record 1 complete mid-block, record 2's first segment
    # closes the block -> NOTHING is admitted (no safe resume point yet)
    with open(p, "wb") as f:
        f.write(_bdw(_sdw(0, b"0001xx") + _sdw(1, b"0002yy")))
    rows, end = rd._rows({"pos": 0}, None, stop_on_partial=True, max_bytes=1 << 20)
    off = end["pos"]
    assert rows == [] and off == 0
    # block 2 closes record 2 and adds record 3 -> all three admitted
    with open(p, "ab") as f:
        f.write(_bdw(_sdw(2, b"zz") + _sdw(0, b"0003ww")))
    rows, end = rd._rows({"pos": 0}, None, stop_on_partial=True, max_bytes=1 << 20)
    off = end["pos"]
    assert [r[1] for r in rows] == [1, 2, 3]
    assert bytes(rows[1][2]) == b"yyzz"  # assembled across blocks
    assert off == os.path.getsize(p)
    # restart replay over the committed span is exact
    replay = rd.readBetweenOffsets({"pos": 0}, {"pos": off})
    assert [r[1] for r in replay] == [1, 2, 3]


def test_spanned_option_validation():
    with pytest.raises(ValueError, match="segmentSize"):
        _VOptions.parse({"recfm": "vs", "segmentsize": "4"})
    with pytest.raises(ValueError, match="blockSize"):
        _VOptions.parse({"recfm": "vbs", "blocksize": "8"})
    # VBS accepts records larger than a block - only the segment floor
    # matters
    o = _VOptions.parse({"recfm": "vbs", "blocksize": "9"})
    assert o.recfm == "VBS"


def _drec(k: int, tag: str, tail: bytes) -> bytes:
    prefix = f"{k:06d}{tag:<4}".encode()
    total = 4 + len(prefix) + len(tail)
    return f"{total:04d}".encode("ascii") + prefix + tail


def test_ansi_d_round_trip_and_offsets(spark, tmp_path):
    recs = [_drec(1, "aa", b"x" * 50), _drec(2, "bb", b""), _drec(3, "cc", b"y")]
    p = tmp_path / "d.ansid"
    p.write_bytes(b"".join(recs))
    rows = {r.k: r for r in _read(spark, str(p), recfm="d").collect()}
    assert sorted(rows) == [1, 2, 3]
    assert bytes(rows[1].record_tail) == b"x" * 50
    assert rows[2].record_offset == len(recs[0])
    assert rows[3].record_offset == len(recs[0]) + len(recs[1])


def test_ansi_d_rejects_bad_count_and_truncation(spark, tmp_path):
    p = tmp_path / "d.ansid"
    p.write_bytes(b"00x4abcd")  # non-digit count field
    with pytest.raises(Exception, match="not 4 decimal digits"):
        _read(spark, str(p), recfm="d").collect()
    good = _drec(1, "aa", b"zz")
    p.write_bytes(good[:7])  # mid-record
    with pytest.raises(Exception, match="mid-record"):
        _read(spark, str(p), recfm="d").collect()
    p.write_bytes(good + good[:2])  # mid-count-field at EOF
    with pytest.raises(Exception, match="mid-count-field"):
        _read(spark, str(p), recfm="d").collect()


def test_ansi_d_write_rejects_oversized_record(spark, tmp_path):
    varlen.register(spark)
    df = spark.createDataFrame(
        [(1, "big", bytes(b"z" * 10_000))],
        "k long, tag string, record_tail binary",
    )
    with pytest.raises(Exception, match="4-digit count limit"):
        (
            df.write.format("varlen")
            .option("prefixLength", str(PFX_LEN))
            .option("layout", PFX_LAYOUT)
            .option("recfm", "d")
            .mode("overwrite")
            .save(str(tmp_path / "d"))
        )


def test_ansi_d_sink_writes_digit_frames_and_sidecar_splits(spark, tmp_path):
    varlen.register(spark)
    rows = [(i, f"t{i % 2}", bytes(b"p" * (i % 90))) for i in range(1, 200)]
    df = spark.createDataFrame(rows, "k long, tag string, record_tail binary")
    out = str(tmp_path / "dsink")
    (
        df.repartition(1).write.format("varlen")
        .option("prefixLength", str(PFX_LEN))
        .option("layout", PFX_LAYOUT)
        .option("recfm", "d")
        .option("indexEvery", "16")
        .mode("overwrite")
        .save(out)
    )
    part = next(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".rdw")
    )
    head = open(part, "rb").read(4)
    assert head.isdigit()  # decimal ASCII framing, not binary RDW
    back = (
        spark.read.format("varlen")
        .option("prefixLength", str(PFX_LEN))
        .option("layout", PFX_LAYOUT)
        .option("recfm", "d")
        .option("maxPartitionBytes", "2048")
        .option("includeOffset", "false")
        .load(out)
    )
    assert back.rdd.getNumPartitions() > 1  # sidecar made it splittable
    got = {(r.k, r.tag, bytes(r.record_tail)) for r in back.collect()}
    assert got == {(k, t, b) for k, t, b in rows}


# ---------------- ANSI RECFM=DB (blocked D, decimal block prefix) ----


def _d_rec(k: int, tag: str, tail: bytes) -> bytes:
    prefix = f"{k:06d}{tag:<4}".encode()
    total = 4 + len(prefix) + len(tail)
    return f"{total:04d}".encode("ascii") + prefix + tail


def _db_block(recs: list[bytes]) -> bytes:
    body = b"".join(recs)
    return f"{4 + len(body):04d}".encode("ascii") + body


def test_ansi_db_round_trip_and_offsets(spark, tmp_path):
    """DB blocks decode to the same records as the bare D stream, with
    record_offset pointing at each count field inside its block."""
    recs = [_d_rec(i, f"t{i % 5}", bytes([65 + i % 26]) * (i % 40))
            for i in range(50)]
    blocks = [_db_block(recs[i: i + 4]) for i in range(0, 50, 4)]
    p = str(tmp_path / "blocked.ansidb")
    with open(p, "wb") as f:
        f.write(b"".join(blocks))
    df = _read(spark, p, recfm="db")
    rows = sorted(df.collect(), key=lambda r: r.record_offset)
    assert [r.k for r in rows] == list(range(50))
    assert rows[0].record_offset == 4  # first record after its block prefix
    pos = 4
    for r, rec in zip(rows, recs):
        assert r.record_offset in (pos, pos + 4)  # +4 at a block boundary
        pos = r.record_offset + len(rec)


def test_ansi_db_rejects_bad_prefix_and_overrun(spark, tmp_path):
    # non-digit block prefix
    p = str(tmp_path / "bad.ansidb")
    with open(p, "wb") as f:
        f.write(b"ZZZZ" + b"x" * 20)
    with pytest.raises(Exception, match="not 4 decimal digits"):
        _read(spark, p, recfm="db").collect()
    # record overruns its block
    r0 = _d_rec(0, "t0", b"abcdef")
    cut = r0[:-2]
    p2 = str(tmp_path / "span.ansidb")
    with open(p2, "wb") as f:
        f.write(f"{4 + len(cut):04d}".encode() + cut)
    with pytest.raises(Exception, match="mid-record|overruns"):
        _read(spark, p2, recfm="db").collect()


def test_ansi_db_sink_writes_blocks_and_splittable_sidecar(spark, tmp_path):
    """OUR DB sink packs decimal-framed records into decimal-prefixed
    blocks, writes block-start sidecar offsets, and the reader plans >1
    record-aligned partition from them."""
    varlen.register(spark)
    n = 400
    df = spark.createDataFrame(
        [(i, f"t{i % 5}", bytes([i % 251]) * (20 + i % 60)) for i in range(n)],
        "k long, tag string, record_tail binary",
    )
    out = str(tmp_path / "db_out")
    (
        df.write.format("varlen")
        .option("prefixLength", str(PFX_LEN))
        .option("layout", PFX_LAYOUT)
        .option("recfm", "db")
        .option("blockSize", "512")
        .option("indexEvery", "32")
        .mode("overwrite")
        .save(out)
    )
    part = [f for f in os.listdir(out) if f.endswith(".rdw")]
    assert part
    # every written block opens with 4 decimal digits
    with open(os.path.join(out, part[0]), "rb") as f:
        blob = f.read()
    assert blob[:4].isdigit()
    back = (
        spark.read.format("varlen")
        .option("prefixLength", str(PFX_LEN))
        .option("layout", PFX_LAYOUT)
        .option("recfm", "db")
        .option("maxPartitionBytes", "2048")
        .load(out)
    )
    assert back.rdd.getNumPartitions() > 1
    assert sorted(r.k for r in back.collect()) == list(range(n))


def test_ansi_db_stream_admits_only_whole_blocks(tmp_path):
    from hadoop_fixedlengthinputformat_spark.sources.varlen import (
        VarLenStreamReader,
    )

    b0 = _db_block([_d_rec(0, "t0", b"aa"), _d_rec(1, "t1", b"bb")])
    b1 = _db_block([_d_rec(2, "t2", b"cc")])
    p = str(tmp_path / "tail.ansidb")
    with open(p, "wb") as f:
        f.write(b0 + b1[:5])  # second block half-written
    opts = _VOptions.parse(
        {"prefixlength": str(PFX_LEN), "layout": PFX_LAYOUT, "recfm": "db"}
    )
    rd = VarLenStreamReader(opts, p)
    rows, off = rd.read(rd.initialOffset())
    assert [r[1] for r in rows] == [0, 1]
    assert off == {"pos": len(b0)}  # resume at the next block prefix
    with open(p, "ab") as f:
        f.write(b1[5:])
    rows2, off2 = rd.read(off)
    assert [r[1] for r in rows2] == [2]
    assert off2 == {"pos": len(b0) + len(b1)}


def test_ansi_db_build_index_foreign_file(tmp_path):
    from hadoop_fixedlengthinputformat_spark.sources.varlen import build_index

    recs = [_d_rec(i, f"t{i % 3}", b"y" * (i % 30)) for i in range(100)]
    blocks = [_db_block(recs[i: i + 5]) for i in range(0, 100, 5)]
    p = str(tmp_path / "foreign.ansidb")
    with open(p, "wb") as f:
        f.write(b"".join(blocks))
    payload = build_index(p, every=10, recfm="db")
    assert payload["n_records"] == 100
    assert payload["offsets"][0] == 0
    starts, pos = set(), 0
    for b in blocks:
        starts.add(pos)
        pos += len(b)
    assert set(payload["offsets"]) <= starts
    assert payload["data_bytes"] == pos


def test_ansi_db_option_validation():
    # default blockSize drops to 2048 for DB (9999 decimal ceiling)
    o = _VOptions.parse(
        {"prefixlength": str(PFX_LEN), "layout": PFX_LAYOUT, "recfm": "db"}
    )
    assert o.block_size == 2048
    with pytest.raises(ValueError, match="blockSize"):
        _VOptions.parse(
            {"recfm": "db", "blocksize": "10000",
             "prefixlength": str(PFX_LEN), "layout": PFX_LAYOUT}
        )
    with pytest.raises(ValueError, match="blockSize"):
        _VOptions.parse(
            {"recfm": "db", "blocksize": "8",
             "prefixlength": str(PFX_LEN), "layout": PFX_LAYOUT}
        )


def test_ansi_db_random_packing_round_trip(spark, tmp_path):
    """Property: random records greedily packed into random block sizes
    always round-trip regardless of how records meet block boundaries."""
    import random as _random

    rng = _random.Random(99)
    for trial in range(3):
        n = rng.randrange(30, 90)
        recs = [
            _d_rec(i, f"t{i % 7}",
                   bytes(rng.randrange(256) for _ in range(rng.choice([0, 1, 17, 120]))))
            for i in range(n)
        ]
        block_size = rng.choice([256, 512, 999])
        blocks, cur, cur_len = [], [], 0
        for r in recs:
            if cur and 4 + cur_len + len(r) > block_size:
                blocks.append(_db_block(cur))
                cur, cur_len = [], 0
            cur.append(r)
            cur_len += len(r)
        if cur:
            blocks.append(_db_block(cur))
        p = str(tmp_path / f"rand{trial}.ansidb")
        with open(p, "wb") as f:
            f.write(b"".join(blocks))
        rows = sorted(
            _read(spark, p, recfm="db").collect(), key=lambda r: r.k
        )
        assert [r.k for r in rows] == list(range(n))
