"""Property tests for the varlen record walk (Sparkless).

A randomized reference packer builds spanned files byte-by-byte (random
record sizes — including zero-length and >64 KiB — random segment caps,
random block sizes); the production iterators must reassemble every
logical record exactly, from the whole file AND from every sidecar-style
safe split point.  This pins the assembler against the packing
combinatorics no hand-written case list covers (records ending exactly
at block ends, single-segment blocks, first-segments opening blocks,
etc.).  The unspanned RECFMs (V, VB, D, DB) get the same walk property
over their own reference packers.
"""

from __future__ import annotations

import io
import struct

import pytest
from hypothesis import given, settings, strategies as st

from hadoop_fixedlengthinputformat_spark.sources.varlen import (
    _RECFMS,
    _VOptions,
    build_index,
)

_iter_records_vs = _RECFMS["VS"].walk
_iter_records_vbs = _RECFMS["VBS"].walk


def _sdw(code: int, data: bytes) -> bytes:
    return struct.pack(">HBB", 4 + len(data), code, 0) + data


def _bdw(body: bytes) -> bytes:
    return struct.pack(">HH", 4 + len(body), 0) + body


def _segment(payload: bytes, cap: int) -> list[tuple[int, bytes]]:
    chunks = [payload[i : i + cap] for i in range(0, len(payload), cap)] or [
        b""
    ]
    out = []
    for j, c in enumerate(chunks):
        code = (
            0
            if len(chunks) == 1
            else 1 if j == 0 else 2 if j == len(chunks) - 1 else 3
        )
        out.append((code, c))
    return out


_SIZES = st.lists(
    st.one_of(
        st.integers(0, 12),
        st.integers(100, 900),
        st.just(70001),  # > 16-bit descriptor limit
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=30, deadline=None)
@given(sizes=_SIZES, cap=st.integers(5, 600), data=st.data())
def test_vs_reassembles_any_packing(sizes, cap, data):
    payloads = [bytes((i + j) % 251 for j in range(n)) for i, n in enumerate(sizes)]
    blob = bytearray()
    starts = []
    for p in payloads:
        starts.append(len(blob))
        for code, c in _segment(p, cap):
            blob.extend(_sdw(code, c))
    got = list(
        _iter_records_vs(io.BytesIO(bytes(blob)), 0, len(blob), 0, "t")
    )
    assert [g[1] for g in got] == payloads
    assert [g[0] for g in got] == starts
    # resume positions re-enter exactly: walk the tail from a random
    # record start and get exactly the remaining records
    k = data.draw(st.integers(0, len(payloads) - 1))
    tail = list(
        _iter_records_vs(
            io.BytesIO(bytes(blob[starts[k]:])), starts[k], len(blob), 0, "t"
        )
    )
    assert [t[1] for t in tail] == payloads[k:]


@settings(max_examples=30, deadline=None)
@given(
    sizes=_SIZES,
    cap=st.integers(5, 600),
    block_size=st.integers(16, 700),
    data=st.data(),
)
def test_vbs_reassembles_any_packing_and_splits_safely(
    sizes, cap, block_size, data
):
    payloads = [bytes((i * 7 + j) % 251 for j in range(n)) for i, n in enumerate(sizes)]
    # reference packer: segments fill blocks, spilling to the next block
    blob = bytearray()
    block = bytearray()

    def flush():
        nonlocal blob, block
        if block:
            blob.extend(_bdw(bytes(block)))
            block.clear()

    for p in payloads:
        view = memoryview(p)
        seg_idx = 0
        while True:
            avail = block_size - 4 - len(block) - 4
            need = 1 if len(view) > 0 else 0
            if avail < need:
                flush()
                continue
            take = min(len(view), avail, cap)
            chunk = bytes(view[:take])
            view = view[take:]
            last = len(view) == 0
            code = (
                0 if (seg_idx == 0 and last)
                else 1 if seg_idx == 0
                else 2 if last
                else 3
            )
            block.extend(_sdw(code, chunk))
            seg_idx += 1
            if last:
                break
    flush()
    raw = bytes(blob)
    got = list(_iter_records_vbs(io.BytesIO(raw), 0, len(raw), 0, "t"))
    assert [g[1] for g in got] == payloads
    # every yielded safe resume point (and every build_index offset)
    # re-enters cleanly and yields exactly the remaining records
    import os
    import tempfile

    with tempfile.NamedTemporaryFile(
        suffix=".rdw", delete=False
    ) as f:
        f.write(raw)
        path = f.name
    try:
        idx = build_index(path, every=max(1, len(payloads) // 3), recfm="vbs")
        assert idx["n_records"] == len(payloads)
        bounds = idx["offsets"] + [len(raw)]
        n = 0
        for lo, hi in zip(bounds, bounds[1:]):
            part = list(
                _iter_records_vbs(io.BytesIO(raw[lo:]), lo, hi, 0, "t")
            )
            n += len(part)
        assert n == len(payloads)
    finally:
        os.unlink(path)
        if os.path.exists(path + ".rdx.json"):
            os.unlink(path + ".rdx.json")
    # every safe resume point the iterator reported re-enters cleanly:
    # the tail walk yields exactly the last N records for some N (records
    # are yielded in file order, so a suffix match proves no loss and no
    # double-read)
    safe = [g[2] for g in got if g[2] != -1]
    for pos in safe[:-1]:
        rest = list(
            _iter_records_vbs(io.BytesIO(raw[pos:]), pos, len(raw), 0, "t")
        )
        assert [r[1] for r in rest] == payloads[len(payloads) - len(rest):]


def _d_rec(payload: bytes) -> bytes:
    return f"{4 + len(payload):04d}".encode("ascii") + payload


@settings(max_examples=120, deadline=None)
@given(
    st.lists(st.binary(min_size=0, max_size=400), max_size=15),
    st.integers(0, 4000),
)
def test_ansi_d_walk_and_truncation(payloads, cut):
    """RECFM=D: the production walk reassembles every record from any
    packer output, every resume position replays the suffix, and a
    byte-truncated stream under stop_on_partial yields a strict prefix
    — never a partial record, never an error."""
    _iter_records_d = _RECFMS["D"].walk

    img = b"".join(_d_rec(p) for p in payloads)
    got = list(_iter_records_d(io.BytesIO(img), 0, None, "prop.d"))
    assert [p for _, p, _ in got] == payloads
    for i, (_off, _p, resume) in enumerate(got):
        bio = io.BytesIO(img)
        bio.seek(resume)
        rest = list(_iter_records_d(bio, resume, None, "prop.d"))
        assert [p for _, p, _ in rest] == payloads[i + 1 :]
    cut = min(cut, len(img))
    part = list(
        _iter_records_d(
            io.BytesIO(img[:cut]), 0, None, "prop.d",
            stop_on_partial=True,
        )
    )
    assert [p for _, p, _ in part] == payloads[: len(part)]


def _unspanned_image(recfm: str, payloads: list[bytes], block_size: int):
    """Reference packer for V/VB/DB: binary RDW or (DB) decimal count
    framing, greedily packed into blocks when blocked.  Returns the
    image and each record's frame offset."""
    decimal = recfm == "DB"

    def word(total: int) -> bytes:
        return f"{total:04d}".encode() if decimal else struct.pack(">HH", total, 0)

    recs = [word(4 + len(p)) + p for p in payloads]
    if recfm == "V":
        starts, pos = [], 0
        for r in recs:
            starts.append(pos)
            pos += len(r)
        return b"".join(recs), starts
    img, block, starts = bytearray(), bytearray(), []
    for r in recs:
        if block and 4 + len(block) + len(r) > block_size:
            img += word(4 + len(block)) + block
            block.clear()
        starts.append(len(img) + 4 + len(block))
        block += r
    img += word(4 + len(block)) + block
    return bytes(img), starts


@pytest.mark.parametrize("recfm", ["V", "VB", "DB"])
@settings(max_examples=40, deadline=None)
@given(
    payloads=st.lists(st.binary(min_size=0, max_size=300), min_size=1, max_size=30),
    block_size=st.integers(310, 2000),
    cut=st.integers(0, 12000),
)
def test_unspanned_walk_any_packing(recfm, payloads, block_size, cut):
    """RECFM=V/VB/DB: the production walk gives back every record at its
    frame offset from any packing; every safe resume point (a record
    end, or in blocked formats a block end) replays exactly the suffix;
    and a truncated image under stop_on_partial yields a strict prefix
    of the records — never a partial record, never an error."""
    walk = _RECFMS[recfm].walk
    img, starts = _unspanned_image(recfm, payloads, block_size)
    got = list(walk(io.BytesIO(img), 0, None, "prop"))
    assert [p for _, p, _ in got] == payloads
    assert [o for o, _, _ in got] == starts
    for i, (_off, _p, resume) in enumerate(got):
        if resume == -1:
            assert recfm != "V"
            continue
        bio = io.BytesIO(img)
        bio.seek(resume)
        rest = list(walk(bio, resume, None, "prop"))
        assert [p for _, p, _ in rest] == payloads[i + 1 :]
    cut = min(cut, len(img))
    part = list(
        walk(io.BytesIO(img[:cut]), 0, None, "prop", stop_on_partial=True)
    )
    assert [p for _, p, _ in part] == payloads[: len(part)]
