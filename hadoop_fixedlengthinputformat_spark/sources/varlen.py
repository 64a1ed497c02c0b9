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
descriptor limit nor the block size), and ``D`` (ANSI/ISO interchange
variable-length: a 4-byte count field of decimal ASCII digits,
X3.27's sibling of the RDW, 9999-byte ceiling).  This module closes that family
gap with the same engine contract as ``fixedlen``:

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

import json
import os
import struct
from dataclasses import dataclass
from functools import partial
from typing import Iterator

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)

from hadoop_fixedlengthinputformat_spark.sources import fixedlen
from hadoop_fixedlengthinputformat_spark.sources.fixedlen import (
    READ_CHUNK_TARGET,
    _codec_of,
    _codec_open_read,
    _CommitMessage,
    _clear_parts,
    _part_paths,
    _promote,
    _remove_tmps,
    _single_byte_encoding,
    _visible,
)
from hadoop_fixedlengthinputformat_spark.sources.layout import (
    FieldSpec,
    decode_framed,
    encode_rows,
    layout_schema,
    parse_layout,
)

RDW_LEN = 4
BDW_LEN = 4  # RECFM=VB Block Descriptor Word: >H block total incl. BDW, >H zero
_MAX_RECORD = 0xFFFF  # RDW length field is an unsigned 16-bit total
_MAX_D_RECORD = 9999  # ANSI D count field is 4 decimal ASCII digits
_WHOLE_FILE = -1  # partition.end sentinel: compressed stream, read to EOF
_INDEX_SUFFIX = ".rdx.json"


@dataclass
class _VOptions:
    prefix_length: int  # fixed prefix data bytes (0 in raw mode)
    fields: list[FieldSpec] | None  # None = raw mode ('value' = payload)
    with_offset: bool
    with_tail: bool
    tail_column: str
    encoding: str
    max_partition_bytes: int
    index_every: int  # writer sidecar stride; 0 disables
    recfm: str  # "V" | "VB" | "VS" | "VBS" | "D" (ANSI) | "DB" (blocked D)
    block_size: int  # VB(S) writer target block bytes (incl. the 4-byte BDW)
    segment_size: int = _MAX_RECORD  # VS/VBS max segment bytes incl. SDW

    @classmethod
    def parse(cls, options) -> "_VOptions":
        layout_raw = options.get("layout")
        options = dict(options.items()) if hasattr(options, "items") else dict(options)
        # COBOL on-ramp: the copybook describes the fixed PREFIX every
        # record carries; prefixLength derives from its span
        cpy_raw = options.get("copybook")
        if cpy_raw is not None:
            if layout_raw is not None:
                raise ValueError(
                    "varlen: 'copybook' and 'layout' are mutually exclusive"
                )
            from hadoop_fixedlengthinputformat_spark.sources.copybook import (
                copybook_to_layout,
            )

            layout_raw, cpy_pl = copybook_to_layout(cpy_raw)
            options.setdefault("prefixlength", str(cpy_pl))
        fields = None
        prefix_length = 0
        if layout_raw is None and options.get("prefixlength") is not None:
            # mirror of the layout-without-prefixLength check below: a
            # prefixLength in raw mode would be silently ignored and the
            # user would get undecoded 'value' rows with no signal
            raise ValueError(
                "varlen: option 'prefixLength' requires 'layout' (raw mode "
                "emits the whole payload as 'value'; there is no prefix to "
                "decode)"
            )
        if layout_raw is not None:
            pl_raw = options.get("prefixlength")
            if pl_raw is None:
                raise ValueError(
                    "varlen: option 'prefixLength' is required with 'layout' "
                    "(the fixed data bytes every record must carry)"
                )
            prefix_length = int(pl_raw)
            if prefix_length <= 0:
                raise ValueError(
                    f"varlen: prefixLength must be > 0, got {prefix_length}"
                )
            if RDW_LEN + prefix_length > _MAX_RECORD:
                raise ValueError(
                    f"varlen: prefixLength {prefix_length} cannot fit a "
                    f"{_MAX_RECORD}-byte RDW record"
                )
            fields = parse_layout(layout_raw, prefix_length)
        with_offset = options.get("includeoffset", "true").lower() == "true"
        with_tail = options.get("includetail", "true").lower() == "true"
        tail_column = options.get("tailcolumn", "record_tail")
        if fields is not None and tail_column in {f.name for f in fields}:
            raise ValueError(
                f"varlen: tailColumn {tail_column!r} clashes with a layout field"
            )
        encoding = _single_byte_encoding(
            options.get("encoding", "utf-8"), "varlen"
        )
        mpb = int(options.get("maxpartitionbytes", 128 * 1024 * 1024))
        index_every = int(options.get("indexevery", "4096"))
        if index_every < 0:
            raise ValueError("varlen: indexEvery must be >= 0 (0 disables)")
        recfm = options.get("recfm", "v").upper()
        if recfm not in ("V", "VB", "VS", "VBS", "D", "DB"):
            raise ValueError(
                f"varlen: recfm must be one of V, VB, VS, VBS, D, DB, "
                f"got {recfm!r}"
            )
        if recfm in ("D", "DB") and RDW_LEN + prefix_length > _MAX_D_RECORD:
            raise ValueError(
                f"varlen: prefixLength {prefix_length} cannot fit a "
                f"{_MAX_D_RECORD}-byte ANSI D record"
            )
        # classic max BLKSIZE; ANSI DB defaults to the historical 2048
        # (its 4-digit decimal prefix caps any block at 9999 anyway)
        block_size = int(
            options.get("blocksize", "2048" if recfm == "DB" else "32760")
        )
        if recfm == "VB" and not (
            BDW_LEN + RDW_LEN + prefix_length <= block_size <= _MAX_RECORD
        ):
            raise ValueError(
                f"varlen: blockSize {block_size} must fit one minimal record "
                f"({BDW_LEN + RDW_LEN + prefix_length}..{_MAX_RECORD})"
            )
        if recfm == "DB" and not (
            RDW_LEN + RDW_LEN + prefix_length <= block_size <= _MAX_D_RECORD
        ):
            # ANSI blocked D: 4-digit decimal block prefix (buffer
            # offset, BUFOFF=L form) caps the whole block at 9999 bytes
            raise ValueError(
                f"varlen: blockSize {block_size} must fit one minimal "
                f"ANSI DB record "
                f"({RDW_LEN + RDW_LEN + prefix_length}..{_MAX_D_RECORD})"
            )
        if recfm == "VBS" and not (
            BDW_LEN + RDW_LEN + 1 <= block_size <= _MAX_RECORD
        ):
            # spanned blocks only need room for one minimal SEGMENT —
            # records larger than a block are the point of VBS
            raise ValueError(
                f"varlen: blockSize {block_size} must fit one minimal "
                f"segment ({BDW_LEN + RDW_LEN + 1}..{_MAX_RECORD})"
            )
        segment_size = int(options.get("segmentsize", str(_MAX_RECORD)))
        if recfm in ("VS", "VBS") and not (
            RDW_LEN + 1 <= segment_size <= _MAX_RECORD
        ):
            raise ValueError(
                f"varlen: segmentSize {segment_size} must be in "
                f"{RDW_LEN + 1}..{_MAX_RECORD} (SDW + at least 1 data byte)"
            )
        return cls(
            prefix_length, fields, with_offset, with_tail, tail_column,
            encoding, mpb, index_every, recfm, block_size, segment_size,
        )

    def spark_schema(self) -> StructType:
        out: list[StructField] = []
        if self.with_offset:
            out.append(StructField("record_offset", LongType(), False))
        if self.fields is None:
            out.append(StructField("value", BinaryType(), False))
        else:
            out.extend(layout_schema(self.fields).fields)
            if self.with_tail:
                out.append(StructField(self.tail_column, BinaryType(), False))
        return StructType(out)

    def layout_arrow_schema(self) -> pa.Schema:
        """Arrow schema for JUST the layout columns (decode_chunk's
        contract); offset/tail are assembled around it."""
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(layout_schema(self.fields))

    def arrow_schema(self) -> pa.Schema:
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(self.spark_schema())

    def framed_batch(
        self, offsets: list[int], prefixes: bytearray, tails: list[bytes]
    ) -> pa.RecordBatch:
        """The Arrow batch of the records a read loop collected."""
        return decode_framed(
            offsets, prefixes, tails,
            prefix_length=self.prefix_length,
            fields=self.fields,
            layout_arrow=(
                self.layout_arrow_schema() if self.fields is not None else None
            ),
            arrow_schema=self.arrow_schema(),
            encoding=self.encoding,
            with_offset=self.with_offset,
            with_tail=self.with_tail,
        )


def _index_path(data_path: str) -> str:
    return data_path + _INDEX_SUFFIX


def _v_visible(p: str) -> bool:
    return _visible(p) and not p.endswith(_INDEX_SUFFIX)


_list_files = partial(
    fixedlen._list_files, visible=_v_visible, source="varlen"
)


class VarLenPartition(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


def _plan_file(path: str, opts: _VOptions) -> list[VarLenPartition]:
    """One whole-file partition unless a record-index sidecar proves
    record-aligned split points (see module docstring)."""
    if _codec_of(path):
        return [VarLenPartition(path, 0, _WHOLE_FILE)]
    size = os.path.getsize(path)
    if size == 0:
        return []
    idx = _index_path(path)
    if not os.path.exists(idx):
        return [VarLenPartition(path, 0, size)]
    try:
        with open(idx) as f:
            payload = json.load(f)
        offsets = payload["offsets"]
        if payload.get("data_bytes") != size or not offsets or offsets[0] != 0:
            # stale / foreign sidecar: fall back to unsplit, never misread
            return [VarLenPartition(path, 0, size)]
    except (OSError, ValueError, KeyError):
        return [VarLenPartition(path, 0, size)]
    parts: list[VarLenPartition] = []
    cur = 0
    for off in offsets[1:]:
        if off - cur >= opts.max_partition_bytes:
            parts.append(VarLenPartition(path, cur, off))
            cur = off
    if cur < size:
        parts.append(VarLenPartition(path, cur, size))
    return parts


def _iter_segments(
    fobj, start: int, end: int | None, path: str,
    stop_on_partial: bool = False, spanned: bool = False,
) -> Iterator[tuple[int, int, bytes]]:
    """Walk descriptor-word frames from ``start``; yield
    ``(offset, segment_code, payload bytes)``.

    Each frame is 4 bytes: ``>H`` total length including the word, one
    segment-control byte (0 complete / 1 first / 2 last / 3 middle),
    one reserved zero byte.  With ``spanned=False`` any nonzero segment
    code raises (plain RECFM=V framing, where the word is the RDW);
    with ``spanned=True`` codes 0-3 pass through for assembly
    (RECFM=VS, where it is the SDW).  ``end`` is an exclusive byte
    bound that MUST be a frame start; ``None`` reads to EOF (compressed
    streams).  ``stop_on_partial`` turns EOF-truncation errors into a
    clean stop — the tailing-stream case, where a half-written frame at
    EOF is growth in flight, not corruption.
    """
    buf = bytearray()
    pos = start
    eof = False

    def fill(want: int) -> None:
        nonlocal eof
        while not eof and len(buf) < want:
            got = fobj.read(max(1 << 22, want - len(buf)))
            if not got:
                eof = True
            else:
                buf.extend(got)

    cur = 0
    while True:
        if end is not None and pos >= end:
            return
        if len(buf) - cur < RDW_LEN:
            del buf[:cur]
            cur = 0
            fill(RDW_LEN)
            if len(buf) == 0:
                if end is not None and pos < end:
                    raise IOError(
                        f"varlen: {path!r} ends at {pos} before the planned "
                        f"partition bound {end} (stale index sidecar?)"
                    )
                return
            if len(buf) < RDW_LEN:
                if stop_on_partial:
                    return
                raise IOError(
                    f"varlen: {path!r} ends mid-RDW at offset {pos} "
                    f"({len(buf)} trailing bytes)"
                )
        total, code, reserved = struct.unpack_from(">HBB", buf, cur)
        if reserved != 0:
            raise ValueError(
                f"varlen: nonzero RDW reserved byte at offset {pos} "
                f"in {path!r}"
            )
        if code != 0 and not spanned:
            raise ValueError(
                f"varlen: segment-control code {code} at offset {pos} in "
                f"{path!r} — a spanned file must be read with recfm='VS' "
                "(or 'VBS' if blocked)"
            )
        if code > 3:
            raise ValueError(
                f"varlen: invalid segment-control code {code} at offset "
                f"{pos} in {path!r}"
            )
        if total < RDW_LEN:
            raise ValueError(
                f"varlen: frame at offset {pos} in {path!r} is {total} "
                f"bytes total, shorter than its descriptor word"
            )
        if len(buf) - cur < total:
            del buf[:cur]
            cur = 0
            fill(total)
            if len(buf) < total:
                if stop_on_partial:
                    return
                raise IOError(
                    f"varlen: {path!r} ends mid-record at offset {pos} "
                    f"(RDW claims {total} bytes, {len(buf)} available)"
                )
        yield pos, code, bytes(buf[cur + RDW_LEN : cur + total])
        cur += total
        pos += total


def _iter_records(
    fobj, start: int, end: int | None, prefix_min: int, path: str,
    stop_on_partial: bool = False,
) -> Iterator[tuple[int, bytes, int]]:
    """Walk plain RDW records from ``start``; yield
    ``(offset, payload bytes, resume_pos)`` where ``resume_pos`` is the
    byte position after the record — always a safe re-entry point in an
    unblocked stream.  Validation mirrors the fixedlen contract: a
    record too short for the declared prefix raises."""
    for pos, _code, payload in _iter_segments(
        fobj, start, end, path, stop_on_partial, spanned=False
    ):
        total = RDW_LEN + len(payload)
        if len(payload) < prefix_min:
            raise ValueError(
                f"varlen: record at offset {pos} in {path!r} is {total} bytes "
                f"total, shorter than RDW+prefix ({RDW_LEN + prefix_min})"
            )
        yield pos, payload, pos + total


# Guard for assembled spanned records: a corrupt stream that never
# emits a last-segment code must not accumulate executor memory forever.
_MAX_ASSEMBLED = 1 << 28  # 256 MiB per logical record


class _SegmentAssembler:
    """RECFM=VS/VBS segment-code state machine: feed segments in file
    order, get back completed logical records.  Sequence violations
    (first/complete while a record is open, middle/last with none) are
    corruption and raise."""

    def __init__(self, path: str, prefix_min: int):
        self.path = path
        self.prefix_min = prefix_min
        self.first_off: int | None = None
        self.parts: list[bytes] = []
        self.size = 0

    @property
    def idle(self) -> bool:
        return self.first_off is None

    def _finish(self, pos: int) -> tuple[int, bytes]:
        payload = b"".join(self.parts)
        first = self.first_off
        self.first_off, self.parts, self.size = None, [], 0
        if len(payload) < self.prefix_min:
            raise ValueError(
                f"varlen: spanned record at offset {first} in {self.path!r} "
                f"assembles to {len(payload)} bytes, shorter than the "
                f"declared prefix ({self.prefix_min})"
            )
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
            if code == 0:
                self.first_off, self.parts, self.size = pos, [payload], len(payload)
                return self._finish(pos)
            self.first_off, self.parts, self.size = pos, [payload], len(payload)
            return None
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
        if code == 2:
            return self._finish(pos)
        return None


def _iter_records_vs(
    fobj, start: int, end: int | None, prefix_min: int, path: str,
    stop_on_partial: bool = False,
) -> Iterator[tuple[int, bytes, int]]:
    """Walk RECFM=VS spanned records: SDW segments assemble into logical
    records; yield ``(first_segment_offset, assembled_payload,
    resume_pos)``.  ``resume_pos`` (position after the record's last
    segment) is always a safe re-entry point in an unblocked spanned
    stream.  ``stop_on_partial`` leaves a record whose last segment has
    not arrived unread (whole-RECORD admission for tailing streams); a
    mid-record end-of-data with a bound is a stale sidecar and raises."""
    asm = _SegmentAssembler(path, prefix_min)
    for pos, code, payload in _iter_segments(
        fobj, start, end, path, stop_on_partial, spanned=True
    ):
        done = asm.feed(pos, code, payload)
        if done is not None:
            first, rec = done
            yield first, rec, pos + RDW_LEN + len(payload)
    if not asm.idle and not stop_on_partial:
        raise IOError(
            f"varlen: {path!r} ends mid-spanned-record (first segment at "
            f"offset {asm.first_off}, no last segment)"
        )


def _read_exact(fobj, want: int) -> bytes:
    """Read exactly ``want`` bytes unless EOF intervenes (codec streams
    return short reads)."""
    parts: list[bytes] = []
    got = 0
    while got < want:
        chunk = fobj.read(want - got)
        if not chunk:
            break
        parts.append(chunk)
        got += len(chunk)
    return b"".join(parts)


def _iter_records_vb(
    fobj, start: int, end: int | None, prefix_min: int, path: str,
    stop_on_partial: bool = False, max_bytes: int | None = None,
) -> Iterator[tuple[int, bytes, int]]:
    """Walk RECFM=VB blocks from ``start``: each block is a 4-byte BDW
    (big-endian total incl. the BDW, 2 zero bytes) wrapping RDW records
    that must tile the block exactly — a record may NOT span blocks
    (that would be VBS, rejected like VS).  Yields (absolute RDW offset,
    payload); each block body is validated by the plain-V record walk
    bounded to the block span, so every RDW rule applies unchanged.

    ``end`` must be a BLOCK start (sidecar offsets are block starts in
    VB mode).  ``stop_on_partial`` stops cleanly at a half-written
    BDW/block at EOF (whole-BLOCK admission for tailing streams);
    inside a complete block a malformed RDW is always corruption and
    raises.  ``max_bytes`` stops before opening a new block once the
    consumed span reaches it — the resume offset is always a block
    start, never mid-block (a mid-block resume would misparse record
    bytes as a BDW).
    """
    import io

    pos = start
    while True:
        if end is not None and pos >= end:
            return
        hdr = _read_exact(fobj, BDW_LEN)
        if not hdr:
            if end is not None and pos < end:
                raise IOError(
                    f"varlen: {path!r} ends at {pos} before the planned "
                    f"partition bound {end} (stale index sidecar?)"
                )
            return
        if len(hdr) < BDW_LEN:
            if stop_on_partial:
                return
            raise IOError(
                f"varlen: {path!r} ends mid-BDW at offset {pos} "
                f"({len(hdr)} trailing bytes)"
            )
        btotal, breserved = struct.unpack(">HH", hdr)
        if breserved != 0:
            raise ValueError(
                f"varlen: nonzero BDW reserved bytes at offset {pos} in "
                f"{path!r} — spanned blocks (RECFM=VBS) are not supported"
            )
        if btotal < BDW_LEN + RDW_LEN + prefix_min:
            raise ValueError(
                f"varlen: block at offset {pos} in {path!r} is {btotal} "
                f"bytes total, too short for one BDW+RDW+prefix record"
            )
        body = _read_exact(fobj, btotal - BDW_LEN)
        if len(body) < btotal - BDW_LEN:
            if stop_on_partial:
                return
            raise IOError(
                f"varlen: {path!r} ends mid-block at offset {pos} "
                f"(BDW claims {btotal} bytes, {BDW_LEN + len(body)} available)"
            )
        yield from _iter_records(
            io.BytesIO(body), pos + BDW_LEN, pos + btotal, prefix_min, path
        )
        pos += btotal
        if max_bytes is not None and pos - start >= max_bytes:
            return


def _iter_records_vbs(
    fobj, start: int, end: int | None, prefix_min: int, path: str,
    stop_on_partial: bool = False, max_bytes: int | None = None,
) -> Iterator[tuple[int, bytes, int]]:
    """Walk RECFM=VBS: BDW blocks whose SDW segments assemble into
    logical records that MAY span blocks — the full spanned-blocked
    format (and the only one that admits logical records larger than a
    block or the 16-bit descriptor limit).  Yields
    ``(first_segment_offset, assembled_payload, resume_pos)`` where
    ``resume_pos`` is the next BLOCK start when the record's last
    segment closes its block (the only safe re-entry points — a
    mid-block resume would misparse record bytes as a BDW, and a
    between-blocks resume inside an open record would orphan its
    continuation segments), else ``-1``.

    ``end`` must be a safe block start (sidecar offsets).  ``max_bytes``
    stops before opening a new block once the consumed span reaches it,
    but never while a record is open across the boundary.
    ``stop_on_partial`` stops cleanly at a half-written BDW/block at
    EOF; the open record (if any) stays unread until its last segment
    lands — whole-record admission carried to spanned blocks."""
    import io

    asm = _SegmentAssembler(path, prefix_min)
    pos = start
    while True:
        if end is not None and pos >= end:
            if not asm.idle:
                raise IOError(
                    f"varlen: {path!r} partition bound {end} falls inside "
                    f"the spanned record starting at {asm.first_off} "
                    "(stale index sidecar?)"
                )
            return
        hdr = _read_exact(fobj, BDW_LEN)
        if not hdr:
            if end is not None and pos < end:
                raise IOError(
                    f"varlen: {path!r} ends at {pos} before the planned "
                    f"partition bound {end} (stale index sidecar?)"
                )
            if not asm.idle and not stop_on_partial:
                raise IOError(
                    f"varlen: {path!r} ends mid-spanned-record (first "
                    f"segment at offset {asm.first_off}, no last segment)"
                )
            return
        if len(hdr) < BDW_LEN:
            if stop_on_partial:
                return
            raise IOError(
                f"varlen: {path!r} ends mid-BDW at offset {pos} "
                f"({len(hdr)} trailing bytes)"
            )
        btotal, breserved = struct.unpack(">HH", hdr)
        if breserved != 0:
            raise ValueError(
                f"varlen: nonzero BDW reserved bytes at offset {pos} in "
                f"{path!r}"
            )
        if btotal < BDW_LEN + RDW_LEN:
            raise ValueError(
                f"varlen: block at offset {pos} in {path!r} is {btotal} "
                f"bytes total, too short for one BDW+SDW segment"
            )
        body = _read_exact(fobj, btotal - BDW_LEN)
        if len(body) < btotal - BDW_LEN:
            if stop_on_partial:
                return
            raise IOError(
                f"varlen: {path!r} ends mid-block at offset {pos} "
                f"(BDW claims {btotal} bytes, {BDW_LEN + len(body)} available)"
            )
        bend = pos + btotal
        segs = list(
            _iter_segments(
                io.BytesIO(body), pos + BDW_LEN, bend, path, spanned=True
            )
        )
        for i, (spos, code, payload) in enumerate(segs):
            done = asm.feed(spos, code, payload)
            if done is not None:
                first, rec = done
                yield first, rec, (bend if i == len(segs) - 1 else -1)
        pos = bend
        if max_bytes is not None and pos - start >= max_bytes and asm.idle:
            return


def _iter_records_d(
    fobj, start: int, end: int | None, prefix_min: int, path: str,
    stop_on_partial: bool = False,
) -> Iterator[tuple[int, bytes, int]]:
    """Walk ANSI RECFM=D records (ISO/ANSI interchange tapes, the
    X3.27 sibling of IBM's RDW): each record is prefixed by a 4-byte
    count field of decimal ASCII DIGITS giving the total length
    including the field itself — human-readable framing, 9999-byte
    ceiling.  Yields ``(offset, payload, resume_pos)``; every record
    start is a safe re-entry point, exactly like plain V."""
    pos = start
    while True:
        if end is not None and pos >= end:
            return
        hdr = _read_exact(fobj, RDW_LEN)
        if not hdr:
            if end is not None and pos < end:
                raise IOError(
                    f"varlen: {path!r} ends at {pos} before the planned "
                    f"partition bound {end} (stale index sidecar?)"
                )
            return
        if len(hdr) < RDW_LEN:
            if stop_on_partial:
                return
            raise IOError(
                f"varlen: {path!r} ends mid-count-field at offset {pos} "
                f"({len(hdr)} trailing bytes)"
            )
        if not hdr.isdigit():
            raise ValueError(
                f"varlen: ANSI D count field at offset {pos} in {path!r} "
                f"is not 4 decimal digits ({hdr!r})"
            )
        total = int(hdr)
        if total < RDW_LEN + prefix_min:
            raise ValueError(
                f"varlen: record at offset {pos} in {path!r} is {total} "
                f"bytes total, shorter than count+prefix "
                f"({RDW_LEN + prefix_min})"
            )
        payload = _read_exact(fobj, total - RDW_LEN)
        if len(payload) < total - RDW_LEN:
            if stop_on_partial:
                return
            raise IOError(
                f"varlen: {path!r} ends mid-record at offset {pos} "
                f"(count field claims {total} bytes, "
                f"{RDW_LEN + len(payload)} available)"
            )
        yield pos, payload, pos + total
        pos += total


def _iter_records_db(
    fobj, start: int, end: int | None, prefix_min: int, path: str,
    stop_on_partial: bool = False, max_bytes: int | None = None,
) -> Iterator[tuple[int, bytes, int]]:
    """Walk ANSI blocked-D (RECFM=DB, ISO/ANSI interchange with the
    BUFOFF=L buffer-offset form): each block opens with a 4-byte
    DECIMAL ASCII block length (including the prefix itself — the
    human-readable sibling of VB's binary BDW) wrapping D records that
    must tile the block exactly; a record may not span blocks (ANSI D
    has no spanned variant here).  Each block body is validated by the
    plain-D record walk bounded to the block span, so every count-field
    rule applies unchanged.  ``end`` must be a BLOCK start; ``max_bytes``
    stops before opening a new block so a streaming resume offset is
    always a block start (the VB admission rule)."""
    import io

    pos = start
    while True:
        if end is not None and pos >= end:
            return
        hdr = _read_exact(fobj, RDW_LEN)
        if not hdr:
            if end is not None and pos < end:
                raise IOError(
                    f"varlen: {path!r} ends at {pos} before the planned "
                    f"partition bound {end} (stale index sidecar?)"
                )
            return
        if len(hdr) < RDW_LEN:
            if stop_on_partial:
                return
            raise IOError(
                f"varlen: {path!r} ends mid-block-prefix at offset {pos} "
                f"({len(hdr)} trailing bytes)"
            )
        if not hdr.isdigit():
            raise ValueError(
                f"varlen: ANSI DB block prefix at offset {pos} in "
                f"{path!r} is not 4 decimal digits ({hdr!r})"
            )
        btotal = int(hdr)
        if btotal < RDW_LEN + RDW_LEN + prefix_min:
            raise ValueError(
                f"varlen: block at offset {pos} in {path!r} is {btotal} "
                f"bytes total, too short for one prefix+count+data record"
            )
        body = _read_exact(fobj, btotal - RDW_LEN)
        if len(body) < btotal - RDW_LEN:
            if stop_on_partial:
                return
            raise IOError(
                f"varlen: {path!r} ends mid-block at offset {pos} "
                f"(block prefix claims {btotal} bytes, "
                f"{RDW_LEN + len(body)} available)"
            )
        yield from _iter_records_d(
            io.BytesIO(body), pos + RDW_LEN, pos + btotal, prefix_min, path
        )
        pos += btotal
        if max_bytes is not None and pos - start >= max_bytes:
            return


def _record_iter_for(opts: _VOptions):
    return {
        "V": _iter_records,
        "VB": _iter_records_vb,
        "VS": _iter_records_vs,
        "VBS": _iter_records_vbs,
        "D": _iter_records_d,
        "DB": _iter_records_db,
    }[opts.recfm]


class VarLenReader(DataSourceReader):
    def __init__(self, opts: _VOptions, path: str):
        self.opts = opts
        self.path = path

    def partitions(self):
        parts: list[VarLenPartition] = []
        for p in _list_files(self.path):
            parts.extend(_plan_file(p, self.opts))
        # zero-record dataset still needs one (empty) partition for Spark
        return parts or [VarLenPartition("", 0, 0)]

    def read(self, partition: VarLenPartition):
        o = self.opts
        if partition.end != _WHOLE_FILE and partition.end <= partition.start:
            return iter(())

        def gen():
            codec = _codec_of(partition.path)
            if codec:
                fobj = _codec_open_read(partition.path, codec)
                start, end = 0, None
            else:
                fobj = open(partition.path, "rb")
                fobj.seek(partition.start)
                start, end = partition.start, partition.end
            try:
                offsets: list[int] = []
                prefixes = bytearray()
                tails: list[bytes] = []
                pending = 0
                for off, payload, _resume in _record_iter_for(o)(
                    fobj, start, end, o.prefix_length, partition.path
                ):
                    offsets.append(off)
                    if o.fields is None:
                        tails.append(payload)
                    else:
                        prefixes.extend(payload[: o.prefix_length])
                        tails.append(payload[o.prefix_length :])
                    pending += RDW_LEN + len(payload)
                    if pending >= READ_CHUNK_TARGET:
                        yield o.framed_batch(offsets, prefixes, tails)
                        offsets, prefixes, tails = [], bytearray(), []
                        pending = 0
                if offsets:
                    yield o.framed_batch(offsets, prefixes, tails)
            finally:
                fobj.close()

        return gen()


class VarLenStreamReader(SimpleDataSourceStreamReader):
    """Tail ONE growing RDW file; an offset is the byte position of the
    next unread record.  Only WHOLE records are admitted — a
    half-written RDW or payload at EOF is growth in flight and stays
    unread until complete (the fixed-length whole-record invariant
    carried to variable strides).  Offsets are only ever record starts,
    so restart replays (`readBetweenOffsets`) re-walk exactly the
    committed span."""

    def __init__(self, opts: _VOptions, path: str):
        self.opts = opts
        self.path = path

    def initialOffset(self):
        return {"pos": 0}

    def _rows(
        self,
        lo: int,
        hi: int | None,
        stop_on_partial: bool,
        max_bytes: int | None = None,
    ):
        """Decode records in [lo, hi) (hi=None: all complete records, up
        to ``max_bytes`` of file span when given); returns
        (rows, end_pos)."""
        o = self.opts
        if not os.path.exists(self.path):
            return [], lo
        # VB/VBS: the byte cap moves INSIDE the iterator so the stop
        # lands on a block boundary — a mid-block resume offset would
        # misparse record bytes as a BDW (and in VBS the stop also waits
        # for any open spanned record to complete).
        it_kwargs: dict = {"stop_on_partial": stop_on_partial}
        if o.recfm in ("VB", "VBS", "DB"):
            it_kwargs["max_bytes"] = max_bytes
        recs: list[tuple[int, bytes, int]] = []
        with open(self.path, "rb") as f:
            f.seek(lo)
            for off, payload, resume in _record_iter_for(o)(
                f, lo, hi, o.prefix_length, self.path, **it_kwargs
            ):
                recs.append((off, payload, resume))
                if (
                    o.recfm in ("V", "VS", "D")
                    and max_bytes is not None
                    and resume - lo >= max_bytes
                ):
                    break
        # admit rows only up to the LAST safe resume point (VBS yields
        # resume=-1 for records whose last segment ends mid-block; they
        # replay from the previous block boundary next batch — emitting
        # them now would double-read them after a restart)
        while recs and recs[-1][2] == -1:
            recs.pop()
        if not recs:
            return [], lo
        pos = recs[-1][2]
        offsets: list[int] = []
        prefixes = bytearray()
        tails: list[bytes] = []
        for off, payload, _resume in recs:
            offsets.append(off)
            if o.fields is None:
                tails.append(payload)
            else:
                prefixes.extend(payload[: o.prefix_length])
                tails.append(payload[o.prefix_length :])
        batch = o.framed_batch(offsets, prefixes, tails)
        return [tuple(r.values()) for r in batch.to_pylist()], pos

    def read(self, start: dict):
        # cap the per-batch span (ADVICE r3): a large backlog on stream
        # start would otherwise materialize the ENTIRE file into one
        # Python list / micro-batch on the driver; capping at
        # READ_CHUNK_TARGET drains it across micro-batches instead (the
        # returned offset is always a record start, so the next batch
        # resumes exactly where this one stopped).
        rows, pos = self._rows(
            start["pos"], None, stop_on_partial=True,
            max_bytes=READ_CHUNK_TARGET,
        )
        return iter(rows), {"pos": pos}

    def readBetweenOffsets(self, start: dict, end: dict):
        # replay after restart: honor END exactly — the file may have
        # grown since the batch was planned
        if end["pos"] <= start["pos"]:
            return iter(())
        rows, _pos = self._rows(start["pos"], end["pos"], stop_on_partial=False)
        return iter(rows)

    def commit(self, end: dict):
        pass


def build_index(path: str, every: int = 4096, recfm: str = "v") -> dict:
    """Index a FOREIGN V/VB-format file in place: one sequential
    descriptor-word walk (only the 4-byte headers are read — payloads
    are seek-skipped) emits the ``.rdx.json`` sidecar, making every
    later read splittable.  Index once, split forever.  Run
    executor-side for fleets of files
    (``sc.parallelize(files).map(build_index)``); returns the sidecar
    payload.  For VB the sidecar offsets are BLOCK starts (the only
    safe split points), emitted when a block's first record crosses the
    ``every`` stride."""
    if every <= 0:
        raise ValueError("varlen: index 'every' must be > 0")
    recfm = recfm.upper()
    size = os.path.getsize(path)
    offsets: list[int] = []
    n = 0
    pos = 0
    with open(path, "rb") as f:
        if recfm == "VS":
            # spanned stream: a safe offset is a record START (segment
            # code 0 or 1); logical records count completions
            open_rec = False
            while pos < size:
                hdr = f.read(RDW_LEN)
                if len(hdr) < RDW_LEN:
                    raise IOError(
                        f"varlen: {path!r} ends mid-SDW at offset {pos}"
                    )
                total, code, res = struct.unpack(">HBB", hdr)
                if res != 0 or code > 3:
                    raise ValueError(
                        f"varlen: invalid SDW at offset {pos} in {path!r} "
                        f"(code={code}, reserved={res})"
                    )
                if total < RDW_LEN or pos + total > size:
                    raise IOError(
                        f"varlen: {path!r} segment at offset {pos} overruns "
                        "EOF"
                    )
                if code in (0, 1):
                    if open_rec:
                        raise ValueError(
                            f"varlen: segment code {code} at offset {pos} in "
                            f"{path!r} while a record is open"
                        )
                    if n % every == 0:
                        offsets.append(pos)
                    n += 1
                    open_rec = code == 1
                else:
                    if not open_rec:
                        raise ValueError(
                            f"varlen: continuation code {code} at offset "
                            f"{pos} in {path!r} with no record open"
                        )
                    if code == 2:
                        open_rec = False
                pos += total
                f.seek(pos)
            if open_rec:
                raise IOError(f"varlen: {path!r} ends mid-spanned-record")
        elif recfm == "VBS":
            # spanned blocks: a safe offset is a BLOCK whose first
            # segment starts a new record
            open_rec = False
            last_bucket = -1
            while pos < size:
                hdr = f.read(BDW_LEN)
                if len(hdr) < BDW_LEN:
                    raise IOError(
                        f"varlen: {path!r} ends mid-BDW at offset {pos}"
                    )
                btotal, breserved = struct.unpack(">HH", hdr)
                if breserved != 0:
                    raise ValueError(
                        f"varlen: nonzero BDW reserved bytes at offset "
                        f"{pos} in {path!r}"
                    )
                if btotal < BDW_LEN + RDW_LEN or pos + btotal > size:
                    raise IOError(
                        f"varlen: {path!r} block at offset {pos} overruns EOF"
                    )
                bpos, bend = pos + BDW_LEN, pos + btotal
                first_seg = True
                while bpos < bend:
                    f.seek(bpos)
                    rh = f.read(RDW_LEN)
                    if len(rh) < RDW_LEN or bend - bpos < RDW_LEN:
                        raise ValueError(
                            f"varlen: block at offset {pos} in {path!r} has "
                            "trailing bytes that are not a segment"
                        )
                    rtotal, code, res = struct.unpack(">HBB", rh)
                    if res != 0 or code > 3:
                        raise ValueError(
                            f"varlen: invalid SDW at offset {bpos} in "
                            f"{path!r} (code={code}, reserved={res})"
                        )
                    if rtotal < RDW_LEN or bpos + rtotal > bend:
                        raise ValueError(
                            f"varlen: segment at offset {bpos} in {path!r} "
                            "overruns its block"
                        )
                    if code in (0, 1):
                        if open_rec:
                            raise ValueError(
                                f"varlen: segment code {code} at offset "
                                f"{bpos} in {path!r} while a record is open"
                            )
                        if first_seg:
                            bucket = n // every
                            if bucket > last_bucket:
                                offsets.append(pos)
                                last_bucket = bucket
                        n += 1
                        open_rec = code == 1
                    else:
                        if not open_rec:
                            raise ValueError(
                                f"varlen: continuation code {code} at "
                                f"offset {bpos} in {path!r} with no record "
                                "open"
                            )
                        if code == 2:
                            open_rec = False
                    first_seg = False
                    bpos += rtotal
                pos += btotal
                f.seek(pos)
            if open_rec:
                raise IOError(f"varlen: {path!r} ends mid-spanned-record")
        elif recfm == "VB":
            last_bucket = -1
            while pos < size:
                hdr = f.read(BDW_LEN)
                if len(hdr) < BDW_LEN:
                    raise IOError(
                        f"varlen: {path!r} ends mid-BDW at offset {pos}"
                    )
                btotal, breserved = struct.unpack(">HH", hdr)
                if breserved != 0:
                    raise ValueError(
                        f"varlen: nonzero BDW reserved bytes at offset "
                        f"{pos} in {path!r}"
                    )
                if btotal < BDW_LEN + RDW_LEN or pos + btotal > size:
                    raise IOError(
                        f"varlen: {path!r} block at offset {pos} overruns EOF"
                    )
                bucket = n // every
                if bucket > last_bucket:
                    offsets.append(pos)
                    last_bucket = bucket
                bpos, bend = pos + BDW_LEN, pos + btotal
                while bpos < bend:
                    f.seek(bpos)
                    rh = f.read(RDW_LEN)
                    if len(rh) < RDW_LEN or bend - bpos < RDW_LEN:
                        raise ValueError(
                            f"varlen: block at offset {pos} in {path!r} has "
                            "trailing bytes that are not a record"
                        )
                    rtotal, rres = struct.unpack(">HH", rh)
                    if rres != 0:
                        raise ValueError(
                            f"varlen: nonzero RDW segment-control bytes at "
                            f"offset {bpos} in {path!r}"
                        )
                    if rtotal < RDW_LEN or bpos + rtotal > bend:
                        raise ValueError(
                            f"varlen: record at offset {bpos} in {path!r} "
                            "overruns its block"
                        )
                    n += 1
                    bpos += rtotal
                pos += btotal
                f.seek(pos)
        elif recfm == "DB":
            last_bucket = -1
            while pos < size:
                hdr = f.read(RDW_LEN)
                if len(hdr) < RDW_LEN:
                    raise IOError(
                        f"varlen: {path!r} ends mid-block-prefix at "
                        f"offset {pos}"
                    )
                if not hdr.isdigit():
                    raise ValueError(
                        f"varlen: ANSI DB block prefix at offset {pos} in "
                        f"{path!r} is not 4 decimal digits ({hdr!r})"
                    )
                btotal = int(hdr)
                if btotal < RDW_LEN + RDW_LEN or pos + btotal > size:
                    raise IOError(
                        f"varlen: {path!r} block at offset {pos} overruns EOF"
                    )
                bucket = n // every
                if bucket > last_bucket:
                    offsets.append(pos)
                    last_bucket = bucket
                bpos, bend = pos + RDW_LEN, pos + btotal
                while bpos < bend:
                    f.seek(bpos)
                    rh = f.read(RDW_LEN)
                    if len(rh) < RDW_LEN or bend - bpos < RDW_LEN:
                        raise ValueError(
                            f"varlen: block at offset {pos} in {path!r} has "
                            "trailing bytes that are not a record"
                        )
                    if not rh.isdigit():
                        raise ValueError(
                            f"varlen: ANSI D count field at offset {bpos} "
                            f"in {path!r} is not 4 decimal digits ({rh!r})"
                        )
                    rtotal = int(rh)
                    if rtotal < RDW_LEN or bpos + rtotal > bend:
                        raise ValueError(
                            f"varlen: record at offset {bpos} in {path!r} "
                            "overruns its block"
                        )
                    n += 1
                    bpos += rtotal
                pos += btotal
                f.seek(pos)
        else:
            while pos < size:
                hdr = f.read(RDW_LEN)
                if len(hdr) < RDW_LEN:
                    raise IOError(
                        f"varlen: {path!r} ends mid-RDW at offset {pos}"
                    )
                if recfm == "D":
                    if not hdr.isdigit():
                        raise ValueError(
                            f"varlen: ANSI D count field at offset {pos} "
                            f"in {path!r} is not 4 decimal digits ({hdr!r})"
                        )
                    total = int(hdr)
                else:
                    total, reserved = struct.unpack(">HH", hdr)
                    if reserved != 0:
                        raise ValueError(
                            f"varlen: nonzero RDW segment-control bytes at "
                            f"offset {pos} in {path!r}"
                        )
                if total < RDW_LEN or pos + total > size:
                    raise IOError(
                        f"varlen: {path!r} record at offset {pos} overruns EOF"
                    )
                if n % every == 0:
                    offsets.append(pos)
                n += 1
                pos += total
                f.seek(pos)
    payload = {
        "version": 1,
        "every": every,
        "prefix_length": 0,
        "offsets": offsets,
        "n_records": n,
        "data_bytes": size,
    }
    tmp = _index_path(path) + f".tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, _index_path(path))
    return payload


class VarLenDirectoryStreamReader(DataSourceStreamReader):
    """Streaming over a DIRECTORY of varlen files with IMMUTABLE-part
    semantics: each micro-batch admits files that newly APPEARED — the
    atomic-rename producer contract our own sinks follow (batch and
    streaming parts are renamed into place complete, never appended),
    and the landing-zone pattern object stores enforce naturally.  An
    offset is ``{"files": {path: size-at-admission}}``.  A known file
    that CHANGED SIZE fails loudly instead of silently misreading: append
    tailing a varlen container requires the descriptor-word walk the
    single-file tail readers own (``.load(file)``), because a byte
    size alone cannot name a record boundary the way fixed-width's
    ``size − size % rl`` can.  New files plan with the batch splitter
    (``_plan_file``), so sidecar-indexed parts split record-aligned
    and decode on executors; compressed members are whole-file units.
    """

    def __init__(self, opts: _VOptions, path: str):
        self.opts = opts
        self.path = path

    def initialOffset(self) -> dict:
        return {"files": {}}

    def latestOffset(self) -> dict:
        files: dict[str, int] = {}
        try:
            names = _list_files(self.path)
        except FileNotFoundError:
            names = []
        for p in names:
            try:
                files[p] = os.path.getsize(p)
            except FileNotFoundError:
                # listed, then deleted before stat (ADVICE r13): skip —
                # a vanished file simply isn't admitted this batch; if
                # it reappears a later listing picks it up
                continue
        return {"files": files}

    def partitions(self, start: dict, end: dict):
        seen = start.get("files", {})
        parts: list[VarLenPartition] = []
        for p, size in end.get("files", {}).items():
            if p in seen:
                if size != seen[p]:
                    raise ValueError(
                        f"varlen: directory stream member {p!r} changed "
                        f"size ({seen[p]} -> {size} bytes); directory "
                        "streaming admits immutable whole files — tail a "
                        "growing file with .load(file) instead"
                    )
                continue
            parts.append(VarLenPartition(p, 0, size))
        planned: list[VarLenPartition] = []
        for part in parts:
            planned.extend(_plan_file(part.path, self.opts))
        return planned or [VarLenPartition("", 0, 0)]

    def read(self, partition: VarLenPartition):
        if not partition.path:
            return iter(())
        return VarLenReader(self.opts, self.path).read(partition)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


class VarLenWriter(DataSourceWriter):
    """One ``.rdw`` part file per input partition plus (when
    ``indexEvery`` > 0) the record-index sidecar that makes the output
    splittable — the property foreign V-format files lack.

    ``stream_mode`` (set by :class:`VarLenStreamWriter`) defers final
    naming to commit time (see ``fixedlen._part_paths``)."""

    WRITE_BATCH_ROWS = 10_000

    stream_mode = False

    def __init__(self, opts: _VOptions, path: str, overwrite: bool):
        self.opts = opts
        self.path = path
        self.overwrite = overwrite
        import uuid

        self.token = uuid.uuid4().hex[:10]

    def write(self, iterator) -> _CommitMessage:
        os.makedirs(self.path, exist_ok=True)
        o = self.opts
        tmp, final = _part_paths(self.path, ".rdw", self.token, self.stream_mode)
        index: list[int] = []
        n = 0
        written = 0

        def payload_bytes(row) -> bytes:
            if o.fields is None:
                return bytes(row["value"])
            d = row.asDict()
            tail = d.get(o.tail_column) if o.with_tail else b""
            if tail is None:
                tail = b""
            elif isinstance(tail, str):
                tail = tail.encode("utf-8")
            else:
                tail = bytes(tail)
            return (
                encode_rows([d], o.fields, o.prefix_length, encoding=o.encoding)
                + tail
            )

        def record_bytes(row) -> bytes:
            payload = payload_bytes(row)
            total = RDW_LEN + len(payload)
            if o.recfm in ("D", "DB"):
                if total > _MAX_D_RECORD:
                    raise ValueError(
                        f"varlen: record of {total} bytes exceeds the ANSI "
                        f"D 4-digit count limit ({_MAX_D_RECORD}); write "
                        "recfm='V' (64 KiB) or 'VS'/'VBS' (unbounded)"
                    )
                return f"{total:04d}".encode("ascii") + payload
            if total > _MAX_RECORD:
                raise ValueError(
                    f"varlen: record of {total} bytes exceeds the RDW "
                    f"16-bit limit ({_MAX_RECORD}); write recfm='VS'/'VBS' "
                    "to span it across segments"
                )
            return struct.pack(">HH", total, 0) + payload

        def segments_of(payload: bytes) -> list[bytes]:
            """Split a logical record into SDW-framed spanned segments
            (codes: 0 complete, 1 first, 3 middle, 2 last)."""
            cap = o.segment_size - RDW_LEN
            chunks = [
                payload[i : i + cap] for i in range(0, len(payload), cap)
            ] or [b""]
            out = []
            for j, c in enumerate(chunks):
                if len(chunks) == 1:
                    code = 0
                elif j == 0:
                    code = 1
                elif j == len(chunks) - 1:
                    code = 2
                else:
                    code = 3
                out.append(struct.pack(">HBB", RDW_LEN + len(c), code, 0) + c)
            return out

        with open(tmp, "wb") as f:
            if o.recfm == "VB":
                # pack records into BDW blocks of <= blockSize bytes; a
                # sidecar offset must be a safe split point, which in VB
                # is a BLOCK start — emitted when a block's first record
                # crosses the indexEvery stride
                block = bytearray()
                last_bucket = -1

                def flush_block():
                    nonlocal written
                    if not block:
                        return
                    btotal = BDW_LEN + len(block)
                    f.write(struct.pack(">HH", btotal, 0) + bytes(block))
                    written += btotal
                    block.clear()

                for row in iterator:
                    b = record_bytes(row)
                    if BDW_LEN + len(b) > o.block_size:
                        raise ValueError(
                            f"varlen: record of {len(b)} bytes cannot fit a "
                            f"{o.block_size}-byte VB block (records may not "
                            "span blocks; raise blockSize)"
                        )
                    if block and BDW_LEN + len(block) + len(b) > o.block_size:
                        flush_block()
                    if not block:
                        bucket = n // o.index_every if o.index_every else -1
                        if o.index_every and bucket > last_bucket:
                            index.append(written)
                            last_bucket = bucket
                    block.extend(b)
                    n += 1
                flush_block()
            elif o.recfm == "DB":
                # ANSI blocked D: same greedy packing as VB but the
                # block prefix is 4 decimal ASCII digits (BUFOFF=L) —
                # sidecar offsets are block starts, the only safe
                # split points
                block = bytearray()
                last_bucket = -1

                def flush_block():
                    nonlocal written
                    if not block:
                        return
                    btotal = RDW_LEN + len(block)
                    f.write(f"{btotal:04d}".encode("ascii") + bytes(block))
                    written += btotal
                    block.clear()

                for row in iterator:
                    b = record_bytes(row)
                    if RDW_LEN + len(b) > o.block_size:
                        raise ValueError(
                            f"varlen: record of {len(b)} bytes cannot fit "
                            f"a {o.block_size}-byte DB block (records may "
                            "not span blocks; raise blockSize)"
                        )
                    if block and RDW_LEN + len(block) + len(b) > o.block_size:
                        flush_block()
                    if not block:
                        bucket = n // o.index_every if o.index_every else -1
                        if o.index_every and bucket > last_bucket:
                            index.append(written)
                            last_bucket = bucket
                    block.extend(b)
                    n += 1
                flush_block()
            elif o.recfm == "VS":
                # spanned, unblocked: records stream as SDW segments;
                # every record start is a safe split point, so the
                # sidecar bucket rule matches plain V exactly
                batch: list[bytes] = []
                for row in iterator:
                    segs = segments_of(payload_bytes(row))
                    if o.index_every and n % o.index_every == 0:
                        index.append(written)
                    n += 1
                    for s in segs:
                        written += len(s)
                        batch.append(s)
                    if len(batch) >= self.WRITE_BATCH_ROWS:
                        f.write(b"".join(batch))
                        batch = []
                if batch:
                    f.write(b"".join(batch))
            elif o.recfm == "VBS":
                # spanned + blocked: segments fill each block to
                # blockSize and a record continues into the next
                # block(s) — no per-block slack, no record size ceiling.
                # A safe split point is a BLOCK whose first segment
                # starts a new record; only those enter the sidecar.
                block = bytearray()
                last_bucket = -1

                def flush_block():
                    nonlocal written
                    if not block:
                        return
                    btotal = BDW_LEN + len(block)
                    f.write(struct.pack(">HH", btotal, 0) + bytes(block))
                    written += btotal
                    block.clear()

                for row in iterator:
                    payload = payload_bytes(row)
                    view = memoryview(payload)
                    seg_idx = 0
                    while True:
                        avail = (
                            o.block_size - BDW_LEN - len(block) - RDW_LEN
                        )
                        need = 1 if len(view) > 0 else 0
                        if avail < need:
                            flush_block()
                            continue
                        if seg_idx == 0 and not block:
                            # fresh record opens a fresh block: safe
                            # split point — same bucket rule as VB
                            bucket = (
                                n // o.index_every if o.index_every else -1
                            )
                            if o.index_every and bucket > last_bucket:
                                index.append(written)
                                last_bucket = bucket
                        take = min(
                            len(view), avail, o.segment_size - RDW_LEN
                        )
                        chunk = bytes(view[:take])
                        view = view[take:]
                        last = len(view) == 0
                        code = (
                            0 if (seg_idx == 0 and last)
                            else 1 if seg_idx == 0
                            else 2 if last
                            else 3
                        )
                        block.extend(
                            struct.pack(">HBB", RDW_LEN + len(chunk), code, 0)
                        )
                        block.extend(chunk)
                        seg_idx += 1
                        if last:
                            break
                    n += 1
                flush_block()
            else:
                batch: list[bytes] = []
                for row in iterator:
                    b = record_bytes(row)
                    if o.index_every and n % o.index_every == 0:
                        index.append(written)
                    n += 1
                    written += len(b)
                    batch.append(b)
                    if len(batch) >= self.WRITE_BATCH_ROWS:
                        f.write(b"".join(batch))
                        batch = []
                if batch:
                    f.write(b"".join(batch))

        idx_tmp = idx_final = None
        if o.index_every:
            idx_tmp, idx_final = _index_path(tmp), _index_path(final)
            with open(idx_tmp, "w") as f:
                json.dump(
                    {
                        "version": 1,
                        "every": o.index_every,
                        "prefix_length": o.prefix_length,
                        "offsets": index,
                        "n_records": n,
                        "data_bytes": written,
                    },
                    f,
                )
        return _CommitMessage([(tmp, final, idx_tmp, idx_final)])

    def commit(self, messages):
        if self.overwrite:
            _clear_parts(
                self.path, self.token, (".rdw", ".rdw" + _INDEX_SUFFIX),
                recursive=False,
            )
        _promote(messages)

    def abort(self, messages):
        _remove_tmps(messages)


class VarLenStreamWriter(DataSourceStreamWriter):
    """Streaming RDW/variable-length SINK: the batch writer in
    ``stream_mode`` (every recfm variant and the splittability index
    sidecar), committed by the sink protocol the three fixed-width
    sources share (``fixedlen._promote`` with the micro-batch id, so
    parts land as ``batch-{id}-part-{p}.rdw``)."""

    def __init__(self, opts: _VOptions, path: str):
        self._inner = VarLenWriter(opts, path, overwrite=False)
        self._inner.stream_mode = True

    def write(self, iterator) -> _CommitMessage:
        return self._inner.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        _promote(messages, batchId)

    def abort(self, messages, batchId: int) -> None:
        _remove_tmps(messages)


class VarLenDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "varlen"

    def __init__(self, options):
        super().__init__(options)
        self.opts = _VOptions.parse(options)
        self.path = options.get("path")
        if not self.path:
            raise ValueError("varlen: a path is required (.load(path))")

    def schema(self) -> StructType:
        return self.opts.spark_schema()

    def reader(self, schema: StructType) -> VarLenReader:
        return VarLenReader(self.opts, self.path)

    def writer(self, schema: StructType, overwrite: bool) -> VarLenWriter:
        return VarLenWriter(self.opts, self.path, overwrite)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> VarLenStreamWriter:
        return VarLenStreamWriter(self.opts, self.path)

    def streamReader(self, schema: StructType) -> VarLenDirectoryStreamReader:
        # a DIRECTORY streams with immutable-part file-source semantics
        # (executor-parallel, sidecar-splittable); a single file falls
        # back to the record-walking tail reader below — Spark only
        # falls back on PySparkNotImplementedError
        if not os.path.isdir(self.path):
            from pyspark.errors import PySparkNotImplementedError

            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={
                    "feature": "varlen partitioned stream (single file)"
                },
            )
        return VarLenDirectoryStreamReader(self.opts, self.path)

    def simpleStreamReader(self, schema: StructType) -> VarLenStreamReader:
        if os.path.isdir(self.path) or _codec_of(self.path):
            raise ValueError(
                "varlen streaming tails a single uncompressed file"
            )
        return VarLenStreamReader(self.opts, self.path)


def register(spark) -> None:
    """Idempotent per-session registration."""
    if getattr(spark, "_varlen_registered", False):
        return
    spark.dataSource.register(VarLenDataSource)
    spark._varlen_registered = True
