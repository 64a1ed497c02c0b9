"""``varlen`` — RDW-prefixed variable-length record data source (RECFM=V).

The reference engine (FixedLengthInputFormat.java:38-43) targets
RECFM=F mainframe files only: every record exactly ``recordLength``
bytes, which is what makes its split formula (FLIF:276-298) possible.
Real mainframe feeds also arrive in IBM's V/VB format, where each
record is prefixed by a 4-byte Record Descriptor Word (RDW): a 2-byte
big-endian length that INCLUDES the RDW itself, a segment-control byte
(0 unless the file is spanned), and a reserved zero byte.  The full
RECFM family is supported: ``V`` (bare RDW stream), ``VB`` (records
packed into BDW blocks), ``VS`` (spanned: logical records split into
SDW segments, codes 1/3/2 = first/middle/last), ``VBS`` (spanned +
blocked — segments fill blocks exactly and a record continues across
blocks, so logical records have NO size ceiling: neither the 16-bit
descriptor limit nor the block size), ``D`` (ANSI/ISO interchange
variable-length: a 4-byte count field of decimal ASCII digits,
X3.27's sibling of the RDW, 9999-byte ceiling) and ``DB`` (D records
packed into blocks behind a 4-digit decimal block prefix).  Each RECFM
is one entry of the ``_RECFMS`` framing table, from which the reader,
the tail reader, ``build_index``, the writer and the option bounds all
derive.  This module closes that family gap with the framed-record
contract it shares with ``awstape`` (options, schema and batches live in
``sources/framed.py``; listing, codecs, the part commit, the stream
readers and the source shell in ``sources/filesource.py``):

  * a typed ``layout`` decodes the fixed PREFIX every record must carry
    (the COBOL fixed part before any OCCURS DEPENDING ON tail), reusing
    the vectorized decode path of layout.py;
  * the variable remainder is exposed as a ``record_tail`` binary
    column (decode it downstream with engine functions — it is data,
    not structure);
  * ``record_offset`` is the file-global byte position of each record's
    RDW, the analog of the reference's offset key (FLRR:256-260).

Splitting: a V-format byte stream has NO formula-computable record
boundaries — the fixed-length split math fundamentally needs a constant
stride — so a foreign V file is one partition, like a gzip member.
Two recoveries keep 100 TB reads parallel:

  * multi-file parallelism (mainframe unloads ship as many members);
  * OUR sink writes a sparse record-index sidecar (``<part>.rdx.json``:
    the byte offset of every ``indexEvery``-th record) that turns its
    output into a splittable format — the reader plans record-aligned
    partitions from the sidecar at ``maxPartitionBytes`` granularity,
    reading only each partition's byte range.

Compressed inputs (``.gz``/``.bz2``/``.xz``) stream whole-file, as in
the fixedlen source.  Writer output is always uncompressed + indexed.
"""

from __future__ import annotations

import glob
import json
import os
import struct
from dataclasses import dataclass
from functools import partial
from typing import Iterator

from pyspark.sql.datasource import DataSourceReader
from pyspark.sql.types import StructType

from hadoop_fixedlengthinputformat_spark.sources import filesource
from hadoop_fixedlengthinputformat_spark.sources.filesource import (
    READ_CHUNK_TARGET,
    FileDataSource,
    FixedLenPartition,
    PartitionedStreamReader,
    TailStreamReader,
    _codec_of,
    _open_read,
    _PartWriter,
    _simple_stream_fallback,
    _visible,
    _WHOLE_FILE,
)
from hadoop_fixedlengthinputformat_spark.sources.framed import (
    FramedOptions,
    framed_batches,
)

WORD_LEN = 4  # every descriptor word: RDW/SDW/BDW, ANSI count or block prefix
_HBB = struct.Struct(">HBB")
_MAX_RECORD = 0xFFFF  # RDW length field is an unsigned 16-bit total
_MAX_D_RECORD = 9999  # ANSI D count field is 4 decimal ASCII digits
_WRITE_BATCH_BYTES = 1 << 22  # sink bytes gathered per write
_INDEX_SUFFIX = ".rdx.json"


@dataclass
class _VOptions(FramedOptions):
    max_partition_bytes: int
    index_every: int  # writer sidecar stride; 0 disables
    recfm: str  # a key of _RECFMS
    block_size: int  # blocked writer target block bytes (incl. block word)
    segment_size: int = _MAX_RECORD  # VS/VBS max segment bytes incl. SDW

    SOURCE = "varlen"
    INITIAL_OFFSET = {"pos": 0}

    @property
    def framing(self) -> "_Framing":
        return _RECFMS[self.recfm]

    @property
    def batch_target(self) -> int:
        return READ_CHUNK_TARGET

    @classmethod
    def parse(cls, options) -> "_VOptions":
        options = dict(options.items()) if hasattr(options, "items") else dict(options)
        recfm = options.get("recfm", "v").upper()
        framing = _RECFMS.get(recfm)
        if framing is None:
            raise ValueError(
                f"varlen: recfm must be one of {', '.join(_RECFMS)}, "
                f"got {recfm!r}"
            )
        rw, bw = framing.record_word, framing.block_word
        layout_raw, prefix_length = cls.parse_prefix(options)
        if WORD_LEN + prefix_length > rw.ceiling:
            raise ValueError(
                f"varlen: prefixLength {prefix_length} cannot fit a "
                f"{rw.ceiling}-byte RECFM={recfm} record"
            )
        contract = cls.framed_options(options, layout_raw, prefix_length)
        mpb = int(options.get("maxpartitionbytes", 128 * 1024 * 1024))
        index_every = int(options.get("indexevery", "4096"))
        if index_every < 0:
            raise ValueError("varlen: indexEvery must be >= 0 (0 disables)")
        block_size = int(
            options.get("blocksize", str(framing.default_block_size))
        )
        # a block must fit one minimal frame: a whole record, or one
        # data byte of a spanned segment
        lo = 2 * WORD_LEN + (1 if framing.spanned else prefix_length)
        if bw is not None and not lo <= block_size <= bw.ceiling:
            raise ValueError(
                f"varlen: blockSize {block_size} must fit one minimal "
                f"RECFM={recfm} frame ({lo}..{bw.ceiling})"
            )
        segment_size = int(options.get("segmentsize", str(rw.ceiling)))
        if framing.spanned and not WORD_LEN + 1 <= segment_size <= rw.ceiling:
            raise ValueError(
                f"varlen: segmentSize {segment_size} must be in "
                f"{WORD_LEN + 1}..{rw.ceiling} (SDW + at least 1 data byte)"
            )
        return cls(
            **contract, max_partition_bytes=mpb, index_every=index_every,
            recfm=recfm, block_size=block_size, segment_size=segment_size,
        )

    def tail(self, fobj, path, lo, hi, stop_on_partial):
        for off, payload, resume in self.framing.walk(
            fobj, lo["pos"], None if hi is None else hi["pos"], path,
            stop_on_partial=stop_on_partial,
        ):
            yield None, off, payload, None if resume == -1 else {"pos": resume}

    # the hooks of the directory stream (filesource.PartitionedStreamReader):
    # members are immutable parts, admitted whole when they appear

    def list_files(self, path: str) -> list[str]:
        return _list_files(path)

    def batch_reader(self, path: str) -> "VarLenReader":
        return VarLenReader(self, path)

    def usable_end(self, path: str) -> int:
        return os.path.getsize(path)

    def plan(self, path: str, seen: int | None, hi: int) -> list[FixedLenPartition]:
        # a new member plans with the batch splitter, so sidecar-indexed
        # parts split record-aligned
        if seen is None:
            return _plan_file(path, self)
        if seen != hi:
            raise ValueError(
                f"varlen: directory stream member {path!r} changed "
                f"size ({seen} -> {hi} bytes); directory "
                "streaming admits immutable whole files — tail a "
                "growing file with .load(file) instead"
            )
        return []


def _index_path(data_path: str) -> str:
    return data_path + _INDEX_SUFFIX


def _v_visible(p: str) -> bool:
    return _visible(p) and not p.endswith(_INDEX_SUFFIX)


_list_files = partial(
    filesource._list_files, visible=_v_visible, source="varlen"
)


def _plan_file(path: str, opts: _VOptions) -> list[FixedLenPartition]:
    """One whole-file partition unless a record-index sidecar proves
    record-aligned split points (see module docstring)."""
    if _codec_of(path):
        return [FixedLenPartition(path, 0, _WHOLE_FILE)]
    size = os.path.getsize(path)
    if size == 0:
        return []
    idx = _index_path(path)
    if not os.path.exists(idx):
        return [FixedLenPartition(path, 0, size)]
    try:
        with open(idx) as f:
            payload = json.load(f)
        offsets = payload["offsets"]
        if payload.get("data_bytes") != size or not offsets or offsets[0] != 0:
            # stale / foreign sidecar: fall back to unsplit, never misread
            return [FixedLenPartition(path, 0, size)]
    except (OSError, ValueError, KeyError):
        return [FixedLenPartition(path, 0, size)]
    parts: list[FixedLenPartition] = []
    cur = 0
    for off in offsets[1:]:
        if off - cur >= opts.max_partition_bytes:
            parts.append(FixedLenPartition(path, cur, off))
            cur = off
    if cur < size:
        parts.append(FixedLenPartition(path, cur, size))
    return parts


@dataclass(frozen=True)
class _Word:
    """A 4-byte descriptor word whose length counts the word itself:
    binary ``>HBB`` (length, segment-control code, reserved zero byte)
    with a 0xFFFF ceiling, or ANSI's 4 decimal ASCII digits with a 9999
    ceiling (X3.27's sibling of the RDW)."""

    name: str  # as error messages call it
    decimal: bool

    @property
    def ceiling(self) -> int:
        return _MAX_D_RECORD if self.decimal else _MAX_RECORD

    def pack(self, total: int, code: int = 0) -> bytes:
        if self.decimal:
            return b"%04d" % total
        return _HBB.pack(total, code, 0)

    def unpack(self, buf, cur: int, pos: int, path: str) -> tuple[int, int]:
        """``(total, segment code)`` of the word at ``buf[cur:]``, which
        sits at file offset ``pos``."""
        if self.decimal:
            hdr = bytes(buf[cur : cur + WORD_LEN])
            if not hdr.isdigit():
                raise ValueError(
                    f"varlen: ANSI {self.name} at offset {pos} in {path!r} "
                    f"is not 4 decimal digits ({hdr!r})"
                )
            return int(hdr), 0
        total, code, reserved = _HBB.unpack_from(buf, cur)
        if reserved != 0:
            raise ValueError(
                f"varlen: nonzero {self.name} reserved byte at offset {pos} "
                f"in {path!r}"
            )
        return total, code


# Guard for assembled spanned records: a corrupt stream that never
# emits a last-segment code must not accumulate executor memory forever.
_MAX_ASSEMBLED = 1 << 28  # 256 MiB per logical record


class _SegmentAssembler:
    """RECFM=VS/VBS segment-code state machine: feed segments in file
    order, get back completed logical records.  Sequence violations
    (first/complete while a record is open, middle/last with none) are
    corruption and raise."""

    def __init__(self, path: str):
        self.path = path
        self.first_off: int | None = None
        self.parts: list[bytes] = []
        self.size = 0

    @property
    def idle(self) -> bool:
        return self.first_off is None

    def _finish(self) -> tuple[int, bytes]:
        payload = b"".join(self.parts)
        first = self.first_off
        self.first_off, self.parts, self.size = None, [], 0
        return first, payload

    def feed(self, pos: int, code: int, payload: bytes):
        """Returns (first_offset, assembled_payload) when ``code``
        completes a record, else None."""
        if code in (0, 1):
            if not self.idle:
                raise ValueError(
                    f"varlen: segment code {code} at offset {pos} in "
                    f"{self.path!r} while the record starting at "
                    f"{self.first_off} is still open"
                )
            self.first_off, self.parts, self.size = pos, [payload], len(payload)
            return self._finish() if code == 0 else None
        # 2 = last, 3 = middle
        if self.idle:
            raise ValueError(
                f"varlen: continuation segment code {code} at offset {pos} "
                f"in {self.path!r} with no record open"
            )
        self.parts.append(payload)
        self.size += len(payload)
        if self.size > _MAX_ASSEMBLED:
            raise ValueError(
                f"varlen: spanned record starting at {self.first_off} in "
                f"{self.path!r} exceeds {_MAX_ASSEMBLED} assembled bytes"
            )
        return self._finish() if code == 2 else None


@dataclass(frozen=True)
class _Framing:
    """How one RECFM frames its records — the only thing a recfm name
    chooses.  Records (or, when ``spanned``, SDW segments with codes
    0 complete / 1 first / 3 middle / 2 last) are framed by
    ``record_word``; ``block_word`` optionally packs frames into blocks
    that frames tile exactly.

    A safe re-entry point — a stream resume offset, a sidecar split
    point — is a unit start (a block start in blocked formats, a frame
    start otherwise) where no spanned record is open."""

    record_word: _Word
    block_word: _Word | None = None
    spanned: bool = False
    default_block_size: int = 32760  # classic max BLKSIZE

    def walk(
        self,
        fobj,
        start: int,
        end: int | None,
        path: str,
        stop_on_partial: bool = False,
        headers_only: bool = False,
    ) -> Iterator[tuple[int, bytes, int]]:
        """Walk block → frame → (spanned) assembly from ``start``; yield
        ``(offset, payload, resume)`` per logical record.  ``offset`` is
        the record's (first) frame word; ``resume`` is the safe re-entry
        point right after the record — its own end when unblocked, the
        block end when it closes its block — or ``-1`` when the point
        after it is not safe (mid-block, where a resume would misparse
        record bytes as a block word).

        ``end`` is an exclusive bound that MUST be a safe re-entry point
        (sidecar offsets); ``None`` reads to EOF (compressed streams).
        ``stop_on_partial`` turns a truncated word, frame or block at EOF
        into a clean stop — the tailing stream, where a half-written unit
        is growth in flight and an open spanned record stays unread until
        its last segment lands; inside a complete block a malformed frame
        is always corruption.
        ``headers_only`` (``build_index``) yields empty payloads and
        seeks past every unblocked payload its read-ahead does not hold.
        A frame shorter than its word raises; a record shorter than the
        layout prefix is checked by ``framed.framed_batches``."""
        rw, bw = self.record_word, self.block_word
        asm = _SegmentAssembler(path) if self.spanned else None
        size = os.fstat(fobj.fileno()).st_size if headers_only else 0
        chunk = 1 << 16 if headers_only else 1 << 22
        buf = bytearray()
        cur = 0
        eof = False
        pos = start
        bend = None  # end of the block being walked

        def fill(want: int) -> None:
            nonlocal cur, eof
            del buf[:cur]
            cur = 0
            while not eof and len(buf) < want:
                got = fobj.read(max(chunk, want - len(buf)))
                if got:
                    buf.extend(got)
                else:
                    eof = True

        while True:
            if bend is None or pos == bend:  # a unit boundary
                bend = None
                idle = asm is None or asm.idle
                if end is not None and pos >= end:
                    if not idle:
                        raise _open_record_error(path, pos, asm)
                    return
                if len(buf) - cur < WORD_LEN:
                    fill(WORD_LEN)
                    if len(buf) < WORD_LEN:
                        word = (bw or rw).name.replace(" ", "-")
                        if buf and not stop_on_partial:
                            raise IOError(
                                f"varlen: {path!r} ends mid-{word} at offset "
                                f"{pos} ({len(buf)} trailing bytes)"
                            )
                        if not buf and end is not None:
                            raise IOError(
                                f"varlen: {path!r} ends at {pos} before the "
                                f"planned partition bound {end} (stale index "
                                "sidecar?)"
                            )
                        if not (idle or stop_on_partial):
                            raise _open_record_error(path, pos, asm)
                        return
                if bw is not None:
                    btotal, code = bw.unpack(buf, cur, pos, path)
                    if code != 0:
                        raise ValueError(
                            f"varlen: nonzero {bw.name} reserved bytes at "
                            f"offset {pos} in {path!r}"
                        )
                    if btotal < 2 * WORD_LEN:
                        raise ValueError(
                            f"varlen: block at offset {pos} in {path!r} is "
                            f"{btotal} bytes total, too short for one "
                            f"{bw.name}+{rw.name} frame"
                        )
                    if len(buf) - cur < btotal:
                        fill(btotal)
                        if len(buf) < btotal:
                            if stop_on_partial:
                                return
                            raise IOError(
                                f"varlen: {path!r} ends mid-block at offset "
                                f"{pos} ({bw.name} claims {btotal} bytes, "
                                f"{len(buf)} available)"
                            )
                    bend = pos + btotal
                    pos += WORD_LEN
                    cur += WORD_LEN
            if bend is not None and bend - pos < WORD_LEN:
                raise ValueError(
                    f"varlen: block ending at {bend} in {path!r} has "
                    f"trailing bytes at offset {pos} that are not a frame"
                )
            total, code = rw.unpack(buf, cur, pos, path)
            if asm is None:
                if code != 0:
                    raise ValueError(
                        f"varlen: segment-control code {code} at offset "
                        f"{pos} in {path!r} — a spanned file must be read "
                        "with recfm='VS' (or 'VBS' if blocked)"
                    )
            elif code > 3:
                raise ValueError(
                    f"varlen: invalid segment-control code {code} at offset "
                    f"{pos} in {path!r}"
                )
            if total < WORD_LEN:
                raise ValueError(
                    f"varlen: record at offset {pos} in {path!r} is {total} "
                    f"bytes total, shorter than {rw.name} ({WORD_LEN})"
                )
            fend = pos + total
            if bend is not None:
                if fend > bend:
                    raise ValueError(
                        f"varlen: frame at offset {pos} in {path!r} "
                        f"overruns its block (ends {fend}, block ends {bend})"
                    )
            elif len(buf) - cur < total:
                if headers_only and fend <= size:
                    # seek past the unbuffered payload; the next fill
                    # (cur past the buffer's end) discards the buffer
                    fobj.seek(fend)
                else:
                    fill(total)
                    if len(buf) < total:
                        if stop_on_partial:
                            return
                        raise IOError(
                            f"varlen: {path!r} ends mid-record at offset "
                            f"{pos} ({rw.name} claims {total} bytes, "
                            f"{len(buf)} available)"
                        )
            payload = (
                b"" if headers_only else bytes(buf[cur + WORD_LEN : cur + total])
            )
            cur += total
            resume = fend if bend is None or fend == bend else -1
            if asm is None:
                yield pos, payload, resume
            else:
                done = asm.feed(pos, code, payload)
                if done is not None:
                    yield done[0], done[1], resume
            pos = fend

    def pack(
        self,
        f,
        payloads: Iterator[bytes],
        *,
        block_size: int,
        segment_size: int,
        index_every: int,
    ) -> tuple[list[int], int, int]:
        """Write ``payloads`` to ``f``: frame each record, split it into
        segments when spanned (a segment fills its block, so a VBS
        record has no size ceiling), and fill blocks greedily up to
        ``block_size`` bytes.  Returns ``(index, n_records, bytes)``;
        ``index`` holds the unit start of every record that opens a unit
        (a safe re-entry point) and crosses into a new ``index_every``
        bucket — the offsets ``build_index`` finds on the same file."""
        rw, bw = self.record_word, self.block_word
        # unspanned records already fit their word's ceiling: never cut
        seg_cap = segment_size - WORD_LEN if self.spanned else rw.ceiling
        room = block_size - 2 * WORD_LEN  # frame payload bytes per empty block
        out: list[bytes] = []
        block = bytearray()
        index: list[int] = []
        last_bucket = -1
        n = 0
        written = flushed = 0

        def emit(b: bytes) -> None:
            nonlocal written, flushed
            out.append(b)
            written += len(b)
            if written - flushed >= _WRITE_BATCH_BYTES:
                f.write(b"".join(out))
                out.clear()
                flushed = written

        def flush_block() -> None:
            if block:
                emit(bw.pack(WORD_LEN + len(block)) + block)
                block.clear()

        for payload in payloads:
            if not self.spanned:
                total = WORD_LEN + len(payload)
                if total > rw.ceiling:
                    limit = "ANSI D 4-digit count" if rw.decimal else "RDW 16-bit"
                    raise ValueError(
                        f"varlen: record of {total} bytes exceeds the {limit} "
                        f"limit ({rw.ceiling}); write recfm='VS'/'VBS' to "
                        "span it across segments"
                    )
                if bw is not None and total > room + WORD_LEN:
                    raise ValueError(
                        f"varlen: record of {total} bytes cannot fit a "
                        f"{block_size}-byte block (records may not span "
                        "blocks; raise blockSize)"
                    )
            view = memoryview(payload)
            first = True
            while True:
                avail = room - len(block) if bw is not None else len(view)
                if avail < (min(1, len(view)) if self.spanned else len(view)):
                    flush_block()
                    continue
                if first and not block and index_every:
                    bucket = n // index_every
                    if bucket > last_bucket:
                        index.append(written)
                        last_bucket = bucket
                take = min(len(view), avail, seg_cap)
                chunk, view = view[:take], view[take:]
                last = not view
                code = (
                    0 if first and last else 1 if first else 2 if last else 3
                )
                frame = rw.pack(WORD_LEN + take, code) + chunk
                if bw is not None:
                    block += frame
                else:
                    emit(frame)
                first = False
                if last:
                    break
            n += 1
        flush_block()
        f.write(b"".join(out))
        return index, n, written


def _open_record_error(
    path: str, pos: int, asm: _SegmentAssembler
) -> IOError:
    return IOError(
        f"varlen: {path!r} ends mid-spanned-record at offset {pos} (the "
        f"record opened at {asm.first_off} has no last segment; stale index "
        "sidecar?)"
    )


_RDW = _Word("RDW", decimal=False)
_SDW = _Word("SDW", decimal=False)
_BDW = _Word("BDW", decimal=False)
_COUNT = _Word("count field", decimal=True)

# The six RECFMs, each described once; reader, tail reader, build_index,
# writer and option bounds all derive from these entries.
_RECFMS = {
    "V": _Framing(_RDW),
    "VB": _Framing(_RDW, _BDW),
    "VS": _Framing(_SDW, spanned=True),
    "VBS": _Framing(_SDW, _BDW, spanned=True),
    "D": _Framing(_COUNT),
    # ANSI blocked D (BUFOFF=L): the 4-digit block prefix caps a block
    # at 9999 bytes, hence the historical 2048 default
    "DB": _Framing(
        _COUNT, _Word("block prefix", decimal=True), default_block_size=2048
    ),
}


class VarLenReader(DataSourceReader):
    def __init__(self, opts: _VOptions, path: str):
        self.opts = opts
        self.path = path

    def partitions(self):
        parts: list[FixedLenPartition] = []
        for p in _list_files(self.path):
            parts.extend(_plan_file(p, self.opts))
        # zero-record dataset still needs one (empty) partition for Spark
        return parts or [FixedLenPartition("", 0, 0)]

    def read(self, partition: FixedLenPartition):
        o = self.opts
        if partition.end != _WHOLE_FILE and partition.end <= partition.start:
            return iter(())

        def gen():
            # a compressed member streams whole from its start
            whole = partition.end == _WHOLE_FILE
            start, end = (0, None) if whole else (partition.start, partition.end)
            with _open_read(partition.path) as fobj:
                if start:
                    fobj.seek(start)
                yield from framed_batches(o, partition.path, (
                    (None, off, payload, WORD_LEN + len(payload))
                    for off, payload, _resume in o.framing.walk(
                        fobj, start, end, partition.path
                    )
                ), o.batch_target)

        return gen()


# Tail ONE growing varlen file: an offset ``{"pos"}`` is a safe re-entry
# point (a record start; a block start in blocked formats, never inside
# a spanned record).
VarLenStreamReader = TailStreamReader

# Stream a DIRECTORY of varlen files with IMMUTABLE-part semantics: each
# micro-batch admits files that newly APPEARED — the atomic-rename
# producer contract our own sinks follow, and the landing-zone pattern
# object stores enforce.  An offset is ``{"files": {path: size}}``; a
# known file that CHANGED SIZE fails loudly instead of silently
# misreading, because a byte size alone cannot name a record boundary
# the way fixed-width's ``size − size % rl`` can (see ``_VOptions.plan``).
VarLenDirectoryStreamReader = PartitionedStreamReader


def _write_index(
    path: str, every: int, prefix_length: int, offsets: list[int],
    n_records: int, data_bytes: int,
) -> dict:
    """Write a record-index sidecar payload to ``path``; returns it."""
    payload = {
        "version": 1,
        "every": every,
        "prefix_length": prefix_length,
        "offsets": offsets,
        "n_records": n_records,
        "data_bytes": data_bytes,
    }
    with open(path, "w") as f:
        json.dump(payload, f)
    return payload


def build_index(path: str, every: int = 4096, recfm: str = "v") -> dict:
    """Index a FOREIGN file of any of the six RECFMs in place: one
    sequential header-only walk (descriptor words are read, unblocked
    payloads are seek-skipped) emits the ``.rdx.json`` sidecar, making
    every later read splittable.  Index once, split forever.  Run
    executor-side for fleets of files
    (``sc.parallelize(files).map(build_index)``); returns the sidecar
    payload.  Offsets are safe re-entry points (block starts in blocked
    formats, never inside a spanned record), emitted when the record
    count there crosses into a new ``every`` bucket — the rule the
    writer's sidecar follows."""
    if every <= 0:
        raise ValueError("varlen: index 'every' must be > 0")
    framing = _VOptions.parse({"recfm": recfm}).framing
    size = os.path.getsize(path)
    offsets = [0] if size else []
    last_bucket = 0
    n = 0
    with open(path, "rb") as f:
        for _off, _payload, resume in framing.walk(
            f, 0, None, path, headers_only=True
        ):
            n += 1
            if resume != -1 and resume < size and n // every > last_bucket:
                offsets.append(resume)
                last_bucket = n // every
    tmp = _index_path(path) + f".tmp{os.getpid()}"
    payload = _write_index(tmp, every, 0, offsets, n, size)
    os.replace(tmp, _index_path(path))
    return payload


class VarLenWriter(_PartWriter):
    """One ``.rdw`` part file per input partition plus (when
    ``indexEvery`` > 0) the record-index sidecar that makes the output
    splittable — the property foreign V-format files lack."""

    _PART_SUFFIXES = (".rdw", ".rdw" + _INDEX_SUFFIX)

    def write_parts(self, iterator, open_part) -> None:
        o = self.opts
        f, idx_tmp = open_part(
            self.path, ".rdw", _index_path if o.index_every else None
        )
        index, n, written = o.framing.pack(
            f, (p for batch in iterator for p in o.framed_payloads(batch)),
            block_size=o.block_size,
            segment_size=o.segment_size,
            index_every=o.index_every,
        )
        if idx_tmp is not None:
            _write_index(idx_tmp, o.index_every, o.prefix_length, index, n, written)


class VarLenDataSource(FileDataSource):
    OPTIONS = _VOptions
    READER = VarLenReader
    WRITER = VarLenWriter

    def streamReader(self, schema: StructType) -> PartitionedStreamReader:
        # a DIRECTORY or glob streams with immutable-part file-source
        # semantics (executor-parallel, sidecar-splittable); a single
        # file falls back to the record-walking tail reader
        if not (os.path.isdir(self.path) or glob.has_magic(self.path)):
            _simple_stream_fallback("varlen partitioned stream (single file)")
        return PartitionedStreamReader(self.opts, self.path)

    def simpleStreamReader(self, schema: StructType) -> TailStreamReader:
        if os.path.isdir(self.path) or glob.has_magic(self.path) or _codec_of(self.path):
            raise ValueError(
                "varlen streaming tails a single uncompressed file"
            )
        return super().simpleStreamReader(schema)


register = partial(filesource.register, source=VarLenDataSource)
