"""awstape (Hercules AWS virtual tape, RECFM=U / FB) source: chunk
assembly, tape marks, header-chain validation, round trips, FB
deblocking, and option validation."""

from __future__ import annotations

import os
import struct

import pytest

from hadoop_fixedlengthinputformat_spark.sources import awstape
from hadoop_fixedlengthinputformat_spark.sources.awstape import (
    _TOptions,
    iter_blocks,
)

PFX_LEN = 10
PFX_LAYOUT = "k:0:6:long,tag:6:4:string"


def _chunks(block: bytes, prev_len: int, cap: int) -> tuple[bytes, int]:
    out = bytearray()
    view = memoryview(block)
    first = True
    while True:
        take = min(len(view), cap)
        piece = bytes(view[:take])
        view = view[take:]
        last = len(view) == 0
        flags1 = (0x80 if first else 0) | (0x20 if last else 0)
        out.extend(struct.pack("<HHBB", len(piece), prev_len, flags1, 0))
        out.extend(piece)
        prev_len = len(piece)
        first = False
        if last:
            return bytes(out), prev_len


def _tape(blocks: list[bytes], cap: int = 4096, marks_at: set | None = None,
          close: bool = True) -> bytes:
    """Image of ``blocks`` with tapemarks BEFORE the indices in
    ``marks_at``; closed with tapemark + end-of-tape unless told not to."""
    out = bytearray()
    prev = 0
    for i, b in enumerate(blocks):
        if marks_at and i in marks_at:
            out.extend(struct.pack("<HHBB", 0, prev, 0x40, 0))
            prev = 0
        piece, prev = _chunks(b, prev, cap)
        out.extend(piece)
    if close:
        out.extend(struct.pack("<HHBB", 0, prev, 0x40, 0))
        out.extend(struct.pack("<HHBB", 0, 0, 0x40, 0))
    return bytes(out)


def _block(k: int, tag: str, tail: bytes) -> bytes:
    return f"{k:06d}{tag:<4}".encode() + tail


def _read(spark, path, **extra):
    awstape.register(spark)
    r = (
        spark.read.format("awstape")
        .option("prefixLength", str(PFX_LEN))
        .option("layout", PFX_LAYOUT)
    )
    for kk, vv in extra.items():
        r = r.option(kk, vv)
    return r.load(str(path))


def test_u_round_trip_multi_chunk_offsets(spark, tmp_path):
    """Blocks spanning several chunks reassemble; record_offset is the
    first chunk header's image position."""
    blocks = [
        _block(1, "aa", b"x" * 700),   # 710 bytes -> 3 chunks at cap 256
        _block(2, "bb", b""),          # 10 bytes -> 1 chunk
        _block(3, "cc", b"y" * 256),   # 266 -> 2 chunks
    ]
    p = tmp_path / "t.aws"
    p.write_bytes(_tape(blocks, cap=256))
    rows = {r.k: r for r in _read(spark, p).collect()}
    assert sorted(rows) == [1, 2, 3]
    assert bytes(rows[1].record_tail) == b"x" * 700
    assert bytes(rows[3].record_tail) == b"y" * 256
    # offsets: block1 = 710 data + 3*6 hdrs = 728; block2 at 728,
    # 10+6=16; block3 at 744
    assert rows[1].record_offset == 0
    assert rows[2].record_offset == 728
    assert rows[3].record_offset == 744


def test_tapemarks_separate_files_and_double_mark_ends(spark, tmp_path):
    blocks = [_block(i, "tt", b"d" * i) for i in range(1, 5)]
    p = tmp_path / "t.aws"
    # mark before block 2 -> files 0:{1,2} 1:{3,4}; closing double mark
    p.write_bytes(_tape(blocks, marks_at={2}))
    df = _read(spark, p, includeFile="true")
    got = {r.k: r.tape_file for r in df.collect()}
    assert got == {1: 0, 2: 0, 3: 1, 4: 1}
    # bytes AFTER the end-of-tape double mark must be ignored
    p.write_bytes(_tape(blocks, marks_at={2}) + b"\xde\xad\xbe\xef")
    assert _read(spark, p).count() == 4


def test_broken_prvblkl_chain_raises(spark, tmp_path):
    img = bytearray(_tape([_block(1, "aa", b"zz"), _block(2, "bb", b"ww")]))
    # second block's header starts after 6 + 12: corrupt its prvblkl
    bad = 6 + 12
    img[bad + 2 : bad + 4] = struct.pack("<H", 999)
    p = tmp_path / "t.aws"
    p.write_bytes(bytes(img))
    with pytest.raises(Exception, match="backspace chain"):
        _read(spark, p).collect()


def test_unknown_flags_and_nonzero_flags2_raise(spark, tmp_path):
    good = _tape([_block(1, "aa", b"zz")])
    img = bytearray(good)
    img[4] |= 0x08  # undefined flags1 bit
    p = tmp_path / "t.aws"
    p.write_bytes(bytes(img))
    with pytest.raises(Exception, match="unknown flags1"):
        _read(spark, p).collect()
    img = bytearray(good)
    img[5] = 1  # flags2 must be zero
    p.write_bytes(bytes(img))
    with pytest.raises(Exception, match="flags2"):
        _read(spark, p).collect()


def test_truncation_raises(spark, tmp_path):
    full = _tape([_block(1, "aa", b"z" * 100)], cap=64, close=False)
    p = tmp_path / "t.aws"
    p.write_bytes(full[:3])  # mid-header
    with pytest.raises(Exception, match="mid-header"):
        _read(spark, p).collect()
    p.write_bytes(full[:20])  # mid-chunk
    with pytest.raises(Exception, match="mid-chunk"):
        _read(spark, p).collect()
    p.write_bytes(full[: 6 + 64])  # chain open at EOF (no ENDREC)
    with pytest.raises(Exception, match="mid-block"):
        _read(spark, p).collect()


def test_continuation_without_open_block_raises(spark, tmp_path):
    # a lone ENDREC chunk (flags 0x20) with nothing open
    img = struct.pack("<HHBB", 2, 0, 0x20, 0) + b"xx"
    p = tmp_path / "t.aws"
    p.write_bytes(img)
    with pytest.raises(Exception, match="no block open"):
        _read(spark, p).collect()


def test_block_shorter_than_prefix_raises(spark, tmp_path):
    p = tmp_path / "t.aws"
    p.write_bytes(_tape([b"tiny"]))
    with pytest.raises(Exception, match="shorter than the declared prefix"):
        _read(spark, p).collect()


def test_fb_deblocks_and_validates_multiples(spark, tmp_path):
    recs = [f"{i:04d}{chr(97 + i) * 4}".encode() for i in range(7)]
    p = tmp_path / "t.aws"
    # 3 records per block, last block 1 record
    blocks = [b"".join(recs[i : i + 3]) for i in range(0, 7, 3)]
    p.write_bytes(_tape(blocks))
    df = (
        spark.read.format("awstape")
        .option("recfm", "fb")
        .option("recordLength", "8")
        .option("layout", "n:0:4:int,s:4:4:string")
        .load(str(p))
    )
    rows = sorted(df.collect(), key=lambda r: r.n)
    assert [r.n for r in rows] == list(range(7))
    # deblocked offsets: rank * recordLength
    assert [r.record_offset for r in rows] == [8 * i for i in range(7)]
    # a 10-byte block is not a multiple of 8
    p.write_bytes(_tape([recs[0] + b"xx"]))
    with pytest.raises(Exception, match="not a multiple"):
        df = (
            spark.read.format("awstape")
            .option("recfm", "fb")
            .option("recordLength", "8")
            .option("layout", "n:0:4:int,s:4:4:string")
            .load(str(p))
            .collect()
        )


def test_sink_round_trip_multiple_partitions(spark, tmp_path):
    awstape.register(spark)
    rows = [(i, f"t{i % 3}", bytes(b"p" * (i % 300))) for i in range(1, 120)]
    df = spark.createDataFrame(rows, "k long, tag string, record_tail binary")
    out = str(tmp_path / "sink")
    (
        df.repartition(3).write.format("awstape")
        .option("prefixLength", str(PFX_LEN))
        .option("layout", PFX_LAYOUT)
        .option("chunkSize", "128")
        .mode("overwrite")
        .save(out)
    )
    parts = [f for f in os.listdir(out) if f.endswith(".aws")]
    assert len(parts) == 3
    # every image ends with the double tapemark
    for f in parts:
        img = open(os.path.join(out, f), "rb").read()
        assert img[-6:] == struct.pack("<HHBB", 0, 0, 0x40, 0)
    back = _read(spark, out, includeOffset="false").collect()
    assert {(r.k, r.tag, bytes(r.record_tail)) for r in back} == {
        (k, t, b) for k, t, b in rows
    }


def test_write_rejects_empty_u_record(spark, tmp_path):
    awstape.register(spark)
    df = spark.createDataFrame([(b"",)], "value binary")
    with pytest.raises(Exception, match="at least one byte"):
        (
            df.write.format("awstape")
            .mode("overwrite")
            .save(str(tmp_path / "e"))
        )


def test_option_validation():
    with pytest.raises(ValueError, match="recfm"):
        _TOptions.parse({"recfm": "vb"})
    with pytest.raises(ValueError, match="recordLength' is required"):
        _TOptions.parse({"recfm": "f", "layout": "a:0:4:int"})
    with pytest.raises(ValueError, match="multiple of recordLength"):
        _TOptions.parse(
            {"recfm": "fb", "recordlength": "8", "layout": "a:0:4:int",
             "blocksize": "20"}
        )
    with pytest.raises(ValueError, match="prefixLength' requires 'layout'"):
        _TOptions.parse({"prefixlength": "4"})
    with pytest.raises(ValueError, match="applies to recfm=U"):
        _TOptions.parse(
            {"recfm": "f", "recordlength": "8", "layout": "a:0:4:int",
             "prefixlength": "4"}
        )
    with pytest.raises(ValueError, match="applies to recfm=F"):
        _TOptions.parse({"recordlength": "8"})
    with pytest.raises(ValueError, match="chunkSize"):
        _TOptions.parse({"chunksize": "0"})
    with pytest.raises(ValueError, match="tailColumn"):
        _TOptions.parse(
            {"layout": "a:0:4:int", "prefixlength": "4", "tailcolumn": "a"}
        )


def test_iter_blocks_matches_writer_chain(tmp_path):
    """Pure-Python walk agrees with the fixture framing byte-for-byte."""
    blocks = [os.urandom(1 + (i * 37) % 900) for i in range(50)]
    img = _tape(blocks, cap=100, marks_at={10, 30})
    p = tmp_path / "t.aws"
    p.write_bytes(img)
    with open(p, "rb") as f:
        got = list(iter_blocks(f, str(p)))
    assert [b for _, _, b, _ in got] == blocks
    assert [tf for tf, _, _, _ in got] == [0] * 10 + [1] * 20 + [2] * 20
    # offsets strictly increasing and header-aligned
    offs = [o for _, o, _, _ in got]
    assert offs == sorted(set(offs))


def _sl_tape(blocks: list[bytes], dsname: str = "A.B", recfm: str = "U",
             lrecl: int = 0, blkcount: int | None = None,
             enc: str = "cp037") -> bytes:
    """Standard-label volume: VOL1+HDR1+HDR2 | TM | data | TM |
    EOF1+EOF2 | TM TM."""
    def lbl(kind, body):
        return (kind + body)[:80].ljust(80).encode(enc)

    def hdr1(kind, count):
        body = dsname.ljust(17).ljust(50) + (
            f"{count:06d}" if count is not None else "000000"
        )
        return lbl(kind, body)

    hdr2 = lbl("HDR2", f"{recfm}{32760:05d}{lrecl:05d}")
    eof2 = lbl("EOF2", f"{recfm}{32760:05d}{lrecl:05d}")
    out = bytearray()
    prev = 0
    for b in (lbl("VOL1", "TEST01"), hdr1("HDR1", None), hdr2):
        piece, prev = _chunks(b, prev, 4096)
        out.extend(piece)
    out.extend(struct.pack("<HHBB", 0, prev, 0x40, 0)); prev = 0
    for b in blocks:
        piece, prev = _chunks(b, prev, 4096)
        out.extend(piece)
    out.extend(struct.pack("<HHBB", 0, prev, 0x40, 0)); prev = 0
    n = blkcount if blkcount is not None else len(blocks)
    for b in (hdr1("EOF1", n), eof2):
        piece, prev = _chunks(b, prev, 4096)
        out.extend(piece)
    out.extend(struct.pack("<HHBB", 0, prev, 0x40, 0))
    out.extend(struct.pack("<HHBB", 0, 0, 0x40, 0))
    return bytes(out)


def test_sl_labels_read_and_dataset_match(spark, tmp_path):
    blocks = [_block(i, "sl", b"x" * i) for i in range(1, 4)]
    p = tmp_path / "t.aws"
    p.write_bytes(_sl_tape(blocks, dsname="MY.DATA"))
    df = _read(spark, p, labels="sl", dataset="MY.DATA")
    assert sorted(r.k for r in df.collect()) == [1, 2, 3]
    with pytest.raises(Exception, match="does not hold"):
        _read(spark, p, labels="sl", dataset="OTHER.DATA").collect()


def test_sl_recfm_lrecl_and_blockcount_validation(spark, tmp_path):
    blocks = [_block(i, "sl", b"") for i in range(1, 4)]
    p = tmp_path / "t.aws"
    # HDR2 recfm disagrees with the reader
    p.write_bytes(_sl_tape(blocks, recfm="F", lrecl=10))
    with pytest.raises(Exception, match="HDR2 says recfm"):
        _read(spark, p, labels="sl").collect()
    # EOF1 block count disagrees with the walk (torn tape)
    p.write_bytes(_sl_tape(blocks, blkcount=7))
    with pytest.raises(Exception, match="block count"):
        _read(spark, p, labels="sl").collect()
    # F-mode lrecl mismatch
    p.write_bytes(_sl_tape([b"12345678" * 3], recfm="F", lrecl=6))
    with pytest.raises(Exception, match="record length"):
        (
            spark.read.format("awstape")
            .option("recfm", "f").option("recordLength", "8")
            .option("layout", "n:0:8:string")
            .option("labels", "sl")
            .load(str(p)).collect()
        )


def test_sl_unlabeled_tape_rejected(spark, tmp_path):
    p = tmp_path / "t.aws"
    p.write_bytes(_tape([_block(1, "aa", b"zz")]))
    with pytest.raises(Exception, match="label block|VOL1|header group"):
        _read(spark, p, labels="sl").collect()


def test_sl_sink_round_trip_and_label_bytes(spark, tmp_path):
    awstape.register(spark)
    rows = [(i, f"g{i % 2}", bytes(b"q" * (i * 7 % 200))) for i in range(1, 60)]
    df = spark.createDataFrame(rows, "k long, tag string, record_tail binary")
    out = str(tmp_path / "sl")
    (
        df.repartition(2).write.format("awstape")
        .option("prefixLength", str(PFX_LEN))
        .option("layout", PFX_LAYOUT)
        .option("chunkSize", "96")
        .option("labels", "sl")
        .option("dataset", "T.SET")
        .option("volser", "VOL42")
        .mode("overwrite")
        .save(out)
    )
    for f in os.listdir(out):
        if not f.endswith(".aws"):
            continue
        img = open(os.path.join(out, f), "rb").read()
        # first block = VOL1 label, EBCDIC
        assert img[6:10].decode("cp037") == "VOL1"
        assert img[10:16].decode("cp037") == "VOL42 "
    back = _read(
        spark, out, labels="sl", dataset="T.SET", includeOffset="false"
    ).collect()
    assert {(r.k, r.tag, bytes(r.record_tail)) for r in back} == {
        (k, t, b) for k, t, b in rows
    }


def test_stream_tail_admits_only_whole_blocks(tmp_path):
    """Direct SimpleDataSourceStreamReader drive: a partial chunk chain
    at EOF stays unread; after completion it is admitted; replay
    between committed offsets is exact even with a new partial tail."""
    from hadoop_fixedlengthinputformat_spark.sources.awstape import (
        AwsTapeStreamReader,
    )

    opts = _TOptions.parse({"prefixlength": str(PFX_LEN), "layout": PFX_LAYOUT})
    p = tmp_path / "t.aws"
    b1, prev1 = _chunks(_block(1, "aa", b"x" * 100), 0, 64)
    b2, _prev2 = _chunks(_block(2, "bb", b"y" * 100), prev1, 64)
    # write block1 + HALF of block2's chain
    half = b2[: 6 + 64]
    p.write_bytes(b1 + half)
    r = AwsTapeStreamReader(opts, str(p))
    start = r.initialOffset()
    rows, off1 = r._rows(start, None, stop_on_partial=True)
    assert [(row[0], row[1]) for row in rows] == [(0, 1)]  # whole block only
    assert off1["pos"] == len(b1)
    # complete block2: now it is admitted from the saved offset
    p.write_bytes(b1 + b2)
    rows2, off2 = r._rows(off1, None, stop_on_partial=True)
    assert [(row[0], row[1]) for row in rows2] == [(len(b1), 2)]
    assert off2["pos"] == len(b1) + len(b2)
    # replay of the committed first batch is exact despite the tail
    replay = list(r.readBetweenOffsets(start, off1))
    assert replay == rows
    # chain-state in the offset: corrupt prev -> replay raises
    bad = dict(off1, prev=13)
    with pytest.raises(Exception, match="backspace chain"):
        list(r.readBetweenOffsets(bad, off2))


def test_stream_reader_option_guards(tmp_path):
    from hadoop_fixedlengthinputformat_spark.sources.awstape import (
        AwsTapeDataSource,
    )

    ds = AwsTapeDataSource(
        {"path": str(tmp_path), "prefixlength": str(PFX_LEN),
         "layout": PFX_LAYOUT}
    )
    with pytest.raises(ValueError, match="single image file"):
        ds.simpleStreamReader(None)
    ds = AwsTapeDataSource(
        {"path": str(tmp_path / "x.aws"), "labels": "sl",
         "prefixlength": str(PFX_LEN), "layout": PFX_LAYOUT}
    )
    with pytest.raises(ValueError, match="unlabeled"):
        ds.simpleStreamReader(None)
    ds = AwsTapeDataSource(
        {"path": str(tmp_path / "x.aws"), "recfm": "fb",
         "recordlength": "8", "layout": "a:0:8:string"}
    )
    with pytest.raises(ValueError, match="recfm=U"):
        ds.simpleStreamReader(None)
    # no partitioned stream: a glob is refused when the stream is planned
    ds = AwsTapeDataSource(
        {"path": str(tmp_path / "*.aws"), "prefixlength": str(PFX_LEN),
         "layout": PFX_LAYOUT}
    )
    with pytest.raises(ValueError, match="single image file"):
        ds.simpleStreamReader(None)


def _sl_multi(datasets: list[tuple[str, str, int, list[bytes]]],
              enc: str = "cp037") -> bytes:
    """Multi-dataset SL volume: [(dsname, recfm, lrecl, blocks), ...] —
    HDR group (VOL1 only on the first) | TM | data | TM | EOF group |
    TM per dataset, closing TM."""
    def lbl(kind, body):
        return (kind + body)[:80].ljust(80).encode(enc)

    out = bytearray()
    prev = 0

    def emit(b):
        nonlocal prev
        piece, prev = _chunks(b, prev, 4096)
        out.extend(piece)

    def mark():
        nonlocal prev
        out.extend(struct.pack("<HHBB", 0, prev, 0x40, 0))
        prev = 0

    for i, (dsname, recfm, lrecl, blocks) in enumerate(datasets):
        if i == 0:
            emit(lbl("VOL1", "TEST01"))
        emit(lbl("HDR1", dsname.ljust(17).ljust(50) + "000000"))
        emit(lbl("HDR2", f"{recfm}{32760:05d}{lrecl:05d}"))
        mark()
        for b in blocks:
            emit(b)
        mark()
        emit(lbl("EOF1", dsname.ljust(17).ljust(50) + f"{len(blocks):06d}"))
        emit(lbl("EOF2", f"{recfm}{32760:05d}{lrecl:05d}"))
        mark()
    mark()
    return bytes(out)


def test_sl_multi_dataset_selection(spark, tmp_path):
    """Three datasets on one volume — select by name, by fileSeq, by
    default (first); differing recfm on NON-selected datasets is fine;
    the selected one still validates."""
    vol = _sl_multi([
        ("FIRST.DS", "U", 0, [_block(i, "f1", b"a" * i) for i in (1, 2)]),
        ("MID.EMPTY", "F", 80, []),                      # empty, recfm F
        ("THIRD.DS", "U", 0, [_block(i, "f3", b"c") for i in (7, 8, 9)]),
    ])
    p = tmp_path / "multi.aws"
    p.write_bytes(vol)
    assert sorted(
        r.k for r in _read(spark, p, labels="sl", dataset="THIRD.DS").collect()
    ) == [7, 8, 9]
    assert sorted(
        r.k for r in _read(spark, p, labels="sl", fileSeq="1").collect()
    ) == [1, 2]
    assert sorted(r.k for r in _read(spark, p, labels="sl").collect()) == [1, 2]
    # the empty F dataset selects fine as F (zero rows), but as U raises
    df = (
        spark.read.format("awstape")
        .option("recfm", "fb").option("recordLength", "80")
        .option("layout", "a:0:80:string")
        .option("labels", "sl").option("fileSeq", "2")
        .load(str(p))
    )
    assert df.count() == 0
    with pytest.raises(Exception, match="HDR2 says recfm"):
        _read(spark, p, labels="sl", fileSeq="2").collect()
    # unknown name lists the catalog
    with pytest.raises(Exception, match="does not hold dataset"):
        _read(spark, p, labels="sl", dataset="NOPE").collect()
    # name + fileSeq must agree
    with pytest.raises(Exception, match="holds dataset"):
        _read(
            spark, p, labels="sl", dataset="FIRST.DS", fileSeq="3"
        ).collect()


def test_sl_multi_dataset_trailer_validation(spark, tmp_path):
    """EVERY dataset's EOF1 count validates, even non-selected ones."""
    vol = bytearray(_sl_multi([
        ("A.DS", "U", 0, [_block(1, "aa", b"x")]),
        ("B.DS", "U", 0, [_block(2, "bb", b"y"), _block(3, "bb", b"z")]),
    ]))
    # corrupt B.DS's EOF1 count (cp037 digits); find its EOF1 label
    eof1_b = vol.find("EOF1B.DS".encode("cp037"))
    assert eof1_b > 0
    vol[eof1_b + 54 : eof1_b + 60] = "000009".encode("cp037")
    p = tmp_path / "bad.aws"
    p.write_bytes(bytes(vol))
    with pytest.raises(Exception, match="block count 9"):
        _read(spark, p, labels="sl", dataset="A.DS").collect()
