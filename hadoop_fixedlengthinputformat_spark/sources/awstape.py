"""``awstape`` — Hercules AWS virtual-tape data source (RECFM=U / FB).

The reference engine (FixedLengthInputFormat.java:38-43) reads RECFM=F
data already deblocked into flat files.  Mainframe data that never got
deblocked ships as TAPE IMAGES, and the lingua franca for those is the
Hercules emulator's public AWSTAPE container: every physical tape block
is stored as one or more CHUNKS, each prefixed by a 6-byte
little-endian header::

    <HHBB  =  curblkl, prvblkl, flags1, flags2

``curblkl`` is this chunk's data length, ``prvblkl`` the previous
chunk's (0 at start of tape — the backspace chain), ``flags1`` is a bit
set: 0x80 NEWREC (chunk begins a block), 0x20 ENDREC (chunk ends it),
0x40 TAPEMARK (``curblkl`` = 0; the inter-file mark).  A block larger
than the writer's chunk cap spans several chunks (0x80, 0x00…, 0x20);
a single-chunk block carries 0xA0.  ``flags2`` is always zero.

This matters for RECFM=U ("undefined") datasets, where each physical
BLOCK *is* one logical record and there are no descriptor words at all:
a U record's boundary exists only on the device, so a flat-file dump
loses it — the tape image is the faithful transport.  (A BDW-framed
re-wrap of U would be byte-identical to RECFM=V, which sources/varlen.py
already reads; the tape container is the genuinely distinct on-disk
form.)

The record contract is the one ``varlen`` reads, kept once in
``sources/framed.py`` (options, schema, batches; the file layer, the
tail stream reader and the source shell are ``sources/filesource.py``);
this module holds the tape framing:

  * ``recfm=U`` (default): block = record; ``layout``/``prefixLength``
    (or ``copybook``) decode the fixed prefix, the remainder lands in
    ``record_tail``, ``record_offset`` is the byte position of the
    record's first chunk header in the image.
  * ``recfm=F``/``FB``: ``recordLength`` records tile every block (a
    non-multiple block raises, the reference's planning-time error
    carried to tape); the full layout decodes like ``fixedlen`` and
    ``record_offset`` is the record's position in the DEBLOCKED byte
    stream (rank * recordLength) — the offset the reference would have
    assigned after deblocking.
  * tape marks are file separators: ``tape_file`` (0-based) is emitted
    when ``includeFile=true``; two consecutive marks end the tape.

Splitting: chunk headers chain (no magic, no index), so an image is one
partition — parallelism comes from many images, the standard unload
shape.  Our writer emits one ``.aws`` image per input partition and
terminates each with tapemark + end-of-tape mark.

IBM STANDARD LABELS (``labels=sl``): real volumes carry an EBCDIC
VOL1+HDR1+HDR2 header group (tape file 0), the data file, and an
EOF1+EOF2 trailer — all 80-byte tape blocks through the same chunk
machinery.  The reader validates every field it understands (magics,
HDR1/EOF1 dataset name vs the ``dataset`` option, HDR2 recfm/lrecl vs
its own configuration, EOF1 block count vs the walk) BEFORE data
flows; the writer emits a complete labeled volume per partition.

Corruption policy (the reference's fail-fast stance, FLRR:199-260):
a nonzero ``flags2``, an unknown ``flags1`` combination, a broken
``prvblkl`` chain, a continuation chunk without an open block, or EOF
mid-chunk all raise with the image offset.
"""

from __future__ import annotations

import codecs
import glob
import os
import struct
from dataclasses import dataclass
from functools import partial
from typing import Iterator

from pyspark.sql.datasource import DataSourceReader
from pyspark.sql.types import StructType

from hadoop_fixedlengthinputformat_spark.sources import filesource
from hadoop_fixedlengthinputformat_spark.sources.filesource import (
    FileDataSource,
    FixedLenPartition,
    TailStreamReader,
    _list_files,
    _PartWriter,
    _WHOLE_FILE,
)
from hadoop_fixedlengthinputformat_spark.sources.framed import (
    FramedOptions,
    framed_batches,
)

HDR_LEN = 6
_F1_NEWREC = 0x80
_F1_ENDREC = 0x20
_F1_TAPEMARK = 0x40
_MAX_CHUNK = 0xFFFF
BATCH_TARGET = 1 << 22  # block bytes per emitted Arrow batch / stream read


@dataclass
class _TOptions(FramedOptions):
    recfm: str  # "U" | "F" (FB treated identically)
    record_length: int  # F mode only
    chunk_size: int  # writer data bytes per chunk
    block_size: int  # F-mode writer block bytes (multiple of record_length)
    labels: str = "NONE"  # "NONE" | "SL" (IBM standard labels)
    dataset: str | None = None  # SL: required HDR1/EOF1 dataset name
    file_seq: int | None = None  # SL: 1-based dataset position on volume
    volser: str = "SPARK1"  # SL writer volume serial
    label_encoding: str = "cp037"  # SL labels are EBCDIC on real volumes

    SOURCE = "awstape"
    INITIAL_OFFSET = {"pos": 0, "prev": 0, "tf": 0, "mark": False}

    @property
    def batch_target(self) -> int:
        return BATCH_TARGET

    @classmethod
    def parse(cls, options) -> "_TOptions":
        options = dict(options.items()) if hasattr(options, "items") else dict(options)
        recfm = options.get("recfm", "u").upper()
        if recfm == "FB":
            recfm = "F"
        if recfm not in ("U", "F"):
            raise ValueError(
                f"awstape: recfm must be U, F or FB, got {recfm!r}"
            )
        record_length = 0
        if recfm == "F":
            # F records are whole-layout: the layout spans recordLength
            # bytes and the contract's prefix is the whole record
            rl_raw = options.get("recordlength")
            if rl_raw is None:
                raise ValueError(
                    "awstape: option 'recordLength' is required with recfm=F"
                )
            try:
                record_length = int(rl_raw)
            except ValueError:
                raise ValueError(
                    f"awstape: recordLength must be an integer, got {rl_raw!r}"
                )
            if record_length <= 0:
                raise ValueError(
                    f"awstape: recordLength must be > 0, got {record_length}"
                )
            for opt in ("prefixLength", "copybook"):
                if options.get(opt.lower()) is not None:
                    raise ValueError(
                        f"awstape: {opt!r} applies to recfm=U only "
                        "(F records are whole-layout, there is no tail)"
                    )
            layout_raw = options.get("layout")
            if layout_raw is None:
                raise ValueError(
                    "awstape: option 'layout' is required with recfm=F"
                )
            contract = cls.framed_options(
                options, layout_raw, record_length, files=True, tiled=True
            )
        else:
            layout_raw, prefix_length = cls.parse_prefix(options)
            if options.get("recordlength") is not None:
                raise ValueError(
                    "awstape: 'recordLength' applies to recfm=F only (U "
                    "records are whole blocks of undefined length)"
                )
            contract = cls.framed_options(
                options, layout_raw, prefix_length, files=True
            )
        chunk_size = int(options.get("chunksize", "4096"))
        if not (1 <= chunk_size <= _MAX_CHUNK):
            raise ValueError(
                f"awstape: chunkSize must be in 1..{_MAX_CHUNK}, got {chunk_size}"
            )
        block_size = int(options.get("blocksize", "0"))
        if recfm == "F":
            if block_size == 0:
                block_size = record_length * max(1, 32760 // record_length)
            if block_size % record_length != 0 or block_size <= 0:
                raise ValueError(
                    f"awstape: blockSize {block_size} must be a positive "
                    f"multiple of recordLength {record_length} (FB blocks "
                    "hold whole records; the reference raises on non-"
                    "multiples, FixedLengthInputFormat.java:344-361)"
                )
        labels = options.get("labels", "none").upper()
        if labels not in ("NONE", "SL"):
            raise ValueError(
                f"awstape: labels must be NONE or SL, got {labels!r}"
            )
        dataset = options.get("dataset")
        if dataset is not None:
            dataset = dataset.upper()
            if not (1 <= len(dataset) <= 17):
                raise ValueError(
                    f"awstape: dataset name must be 1..17 characters "
                    f"(HDR1 field width), got {dataset!r}"
                )
        file_seq = None
        if options.get("fileseq") is not None:
            file_seq = int(options["fileseq"])
            if file_seq < 1:
                raise ValueError(
                    f"awstape: fileSeq is 1-based, got {file_seq}"
                )
            if labels != "SL":
                raise ValueError(
                    "awstape: fileSeq selects a dataset on an SL volume "
                    "(labels=sl)"
                )
        volser = options.get("volser", "SPARK1").upper()
        if not (1 <= len(volser) <= 6):
            raise ValueError(
                f"awstape: volser must be 1..6 characters, got {volser!r}"
            )
        label_encoding = options.get("labelencoding", "cp037")
        try:
            codecs.lookup(label_encoding)
        except LookupError:
            raise ValueError(
                f"awstape: unknown labelEncoding {label_encoding!r}"
            )
        return cls(
            **contract, recfm=recfm, record_length=record_length,
            chunk_size=chunk_size, block_size=block_size, labels=labels,
            dataset=dataset, file_seq=file_seq, volser=volser,
            label_encoding=label_encoding,
        )

    def tail(self, fobj, path, lo, hi, stop_on_partial):
        for tf, off, block, (pos, prev, tf_next, mark) in iter_blocks(
            fobj, path,
            start=(lo["pos"], lo["prev"], lo["tf"], lo["mark"]),
            stop_on_partial=stop_on_partial,
            end_pos=None if hi is None else hi["pos"],
        ):
            yield tf, off, block, {
                "pos": pos, "prev": prev, "tf": tf_next, "mark": mark,
            }


def iter_blocks(
    fobj,
    path: str,
    eot_on_double_mark: bool = True,
    start: tuple[int, int, int, bool] | None = None,
    stop_on_partial: bool = False,
    end_pos: int | None = None,
) -> Iterator[tuple[int, int, bytes, tuple[int, int, int, bool]]]:
    """Walk an AWS image; yield ``(tape_file, block_offset, block bytes,
    resume_state)`` for every data block (chunks assembled), where
    ``resume_state = (pos, prev_len, tape_file, last_was_mark)`` is the
    walk state right after the block's ENDREC chunk — the only safe
    re-entry points for a tailing stream (resuming mid-chain would
    orphan continuation chunks, and the backspace-chain check needs the
    previous chunk length).  ``start`` resumes from such a state.
    Tape marks advance ``tape_file``; two consecutive marks
    (end-of-tape) or EOF stop the walk — except under SL labels
    (``eot_on_double_mark=False``), where an empty dataset legitimately
    carries consecutive marks and only physical EOF ends it.
    ``stop_on_partial`` turns EOF-truncation (mid-header, mid-chunk, or
    chain-open) into a clean stop — the tailing case, where a
    half-written chunk chain is growth in flight, not corruption.
    Every header rule is enforced (module docstring)."""
    pos, prev_len, tape_file, last_was_mark = start or (0, 0, 0, False)
    open_parts: list[bytes] | None = None
    open_off = 0
    while True:
        # ``end_pos`` is always a block boundary (a replay bound from a
        # prior resume state) — stop BEFORE touching bytes past it, so
        # an in-flight partial chain beyond the committed range can
        # never disturb an exact replay
        if end_pos is not None and pos >= end_pos:
            return
        hdr = fobj.read(HDR_LEN)
        if not hdr:
            if open_parts is not None:
                if stop_on_partial:
                    return
                raise IOError(
                    f"awstape: {path!r} ends mid-block (chunk chain open "
                    f"since offset {open_off}, no ENDREC)"
                )
            return
        if len(hdr) < HDR_LEN:
            if stop_on_partial:
                return
            raise IOError(
                f"awstape: {path!r} ends mid-header at offset {pos} "
                f"({len(hdr)} trailing bytes)"
            )
        curblkl, prvblkl, flags1, flags2 = struct.unpack("<HHBB", hdr)
        if flags2 != 0:
            raise ValueError(
                f"awstape: nonzero flags2 byte at offset {pos} in {path!r}"
            )
        if prvblkl != prev_len:
            raise ValueError(
                f"awstape: broken backspace chain at offset {pos} in "
                f"{path!r} (header says previous chunk was {prvblkl} "
                f"bytes, walk saw {prev_len})"
            )
        if flags1 == _F1_TAPEMARK:
            if curblkl != 0:
                raise ValueError(
                    f"awstape: tapemark with nonzero length {curblkl} at "
                    f"offset {pos} in {path!r}"
                )
            if open_parts is not None:
                raise ValueError(
                    f"awstape: tapemark at offset {pos} in {path!r} inside "
                    f"the block open since offset {open_off}"
                )
            if last_was_mark and eot_on_double_mark:
                return  # end-of-tape convention: two consecutive marks
            last_was_mark = True
            tape_file += 1
            prev_len = 0
            pos += HDR_LEN
            continue
        # middle chunks of a spanning block carry flags1 = 0x00
        known = _F1_NEWREC | _F1_ENDREC
        if flags1 & ~known:
            raise ValueError(
                f"awstape: unknown flags1 0x{flags1:02x} at offset {pos} "
                f"in {path!r}"
            )
        if curblkl == 0:
            raise ValueError(
                f"awstape: zero-length data chunk at offset {pos} in {path!r}"
            )
        data = fobj.read(curblkl)
        if len(data) < curblkl:
            if stop_on_partial:
                return
            raise IOError(
                f"awstape: {path!r} ends mid-chunk at offset {pos} (header "
                f"claims {curblkl} data bytes, {len(data)} available)"
            )
        last_was_mark = False
        if flags1 & _F1_NEWREC:
            if open_parts is not None:
                raise ValueError(
                    f"awstape: NEWREC chunk at offset {pos} in {path!r} "
                    f"while the block at offset {open_off} is still open"
                )
            open_parts, open_off = [data], pos
        else:
            if open_parts is None:
                raise ValueError(
                    f"awstape: continuation chunk at offset {pos} in "
                    f"{path!r} with no block open"
                )
            open_parts.append(data)
        if flags1 & _F1_ENDREC:
            yield tape_file, open_off, b"".join(open_parts), (
                pos + HDR_LEN + curblkl, curblkl, tape_file, False,
            )
            open_parts = None
        prev_len = curblkl
        pos += HDR_LEN + curblkl


_LABEL_LEN = 80


def _label(kind: str, body: str, enc: str) -> bytes:
    """An 80-byte label block: 4-char magic + body, space-padded."""
    s = (kind + body)[:_LABEL_LEN].ljust(_LABEL_LEN)
    return s.encode(enc)


def _hdr1_body(dsname: str, blocks: int | None) -> str:
    """HDR1/EOF1 body: dataset name at bytes 4-20, block count (EOF1)
    at bytes 54-59 — the two fields this engine reads back."""
    body = dsname.ljust(17)  # bytes 4-20
    body = body.ljust(50)  # up to byte 53
    body += f"{blocks:06d}" if blocks is not None else "000000"
    return body


def _hdr2_body(recfm: str, blksize: int, lrecl: int) -> str:
    """HDR2/EOF2 body: recfm char at byte 4, block length 5-9, record
    length 10-14."""
    return f"{recfm}{min(blksize, 99999):05d}{min(lrecl, 99999):05d}"


def iter_labeled_blocks(
    fobj, path: str, opts: _TOptions
) -> Iterator[tuple[int, int, bytes, tuple[int, int, int, bool]]]:
    """IBM standard-label (SL) walk over a (possibly multi-dataset)
    volume.  Dataset k occupies three tape files: header group at
    ``3k`` (VOL1 leads only the first), data at ``3k+1``, EOF1+EOF2
    trailer at ``3k+2`` — the arithmetic holds even for EMPTY datasets,
    whose data file contributes no blocks but still consumes a tape
    file between its marks.  The ``dataset`` option selects by HDR1
    name, ``fileSeq`` by 1-based position (both given must agree);
    default is the first dataset.

    Every label field this engine understands is VALIDATED, not
    skipped: magics and EOF1 name/block-count for EVERY dataset on the
    volume (a torn tape shows as a count shortfall even when every
    surviving block parses), plus HDR2 recfm/lrecl against the
    reader's own options for the SELECTED dataset (other datasets on
    the volume may legitimately carry different record formats) —
    catching the mount-the-wrong-tape and read-U-as-F operational
    errors before any data flows."""
    enc = opts.label_encoding
    headers: dict[int, list[tuple[int, bytes]]] = {}
    trailers: dict[int, list[tuple[int, bytes]]] = {}
    n_data: dict[int, int] = {}
    names: dict[int, str] = {}
    selected: int | None = None
    validated = False

    def decode(off: int, b: bytes) -> str:
        if len(b) != _LABEL_LEN:
            raise ValueError(
                f"awstape: label block at offset {off} in {path!r} is "
                f"{len(b)} bytes (standard labels are {_LABEL_LEN})"
            )
        return b.decode(enc)

    def expect(lbl: str, kind: str, off: int) -> str:
        if lbl[:4] != kind:
            raise ValueError(
                f"awstape: expected {kind} label at offset {off} in "
                f"{path!r}, found {lbl[:4]!r}"
            )
        return lbl

    def header_name(ds: int) -> str:
        """Validate dataset ``ds``'s header group magics; return its
        HDR1 name (memoized)."""
        if ds in names:
            return names[ds]
        grp = headers.get(ds, [])
        want = 3 if ds == 0 else 2  # VOL1 leads only the first group
        if len(grp) != want:
            raise ValueError(
                f"awstape: SL header group {ds} in {path!r} has "
                f"{len(grp)} label blocks, expected "
                + ("VOL1+HDR1+HDR2" if ds == 0 else "HDR1+HDR2")
            )
        i = 0
        if ds == 0:
            expect(decode(*grp[0]), "VOL1", grp[0][0])
            i = 1
        hdr1 = expect(decode(*grp[i]), "HDR1", grp[i][0])
        expect(decode(*grp[i + 1]), "HDR2", grp[i + 1][0])
        names[ds] = hdr1[4:21].strip()
        return names[ds]

    def hdr2_of(ds: int) -> str:
        grp = headers[ds]
        return decode(*grp[2 if ds == 0 else 1])

    def choose(ds: int) -> bool:
        """Is dataset ``ds`` the one the reader asked for?"""
        name = header_name(ds)
        by_name = opts.dataset is not None and name == opts.dataset
        by_seq = opts.file_seq is not None and ds == opts.file_seq - 1
        if opts.dataset is not None and opts.file_seq is not None:
            if by_seq and not by_name:
                raise ValueError(
                    f"awstape: fileSeq {opts.file_seq} in {path!r} holds "
                    f"dataset {name!r}, not the requested "
                    f"{opts.dataset!r}"
                )
            return by_seq and by_name
        if opts.dataset is not None:
            return by_name
        if opts.file_seq is not None:
            return by_seq
        return ds == 0

    def check_selected(ds: int) -> None:
        """recfm/lrecl validation for the dataset actually read."""
        nonlocal validated
        hdr2 = hdr2_of(ds)
        lbl_recfm = hdr2[4]
        if lbl_recfm != opts.recfm:
            raise ValueError(
                f"awstape: HDR2 says recfm={lbl_recfm!r} but the reader "
                f"is configured for {opts.recfm!r} in {path!r}"
            )
        if opts.recfm == "F":
            lrecl = int(hdr2[10:15])
            if lrecl != opts.record_length:
                raise ValueError(
                    f"awstape: HDR2 record length {lrecl} != configured "
                    f"recordLength {opts.record_length} in {path!r}"
                )
        validated = True

    # the closing TM TM is structure here, not end-of-tape: an EMPTY
    # dataset legitimately puts two consecutive marks between HDR and
    # EOF groups, so the walk runs to physical EOF instead
    for tf, off, block, resume in iter_blocks(
        fobj, path, eot_on_double_mark=False
    ):
        ds, phase = divmod(tf, 3)
        if phase == 0:
            headers.setdefault(ds, []).append((off, block))
        elif phase == 1:
            if selected is None and choose(ds):
                selected = ds
                check_selected(ds)  # validate BEFORE any data flows
            n_data[ds] = n_data.get(ds, 0) + 1
            if ds == selected:
                yield tf, off, block, resume
        else:
            trailers.setdefault(ds, []).append((off, block))
    # post-walk: every dataset's labels + counts validate; the
    # requested dataset must exist
    for ds in sorted(headers):
        dsname = header_name(ds)
        grp = trailers.get(ds, [])
        if len(grp) != 2:
            raise ValueError(
                f"awstape: SL trailer group {ds} in {path!r} has "
                f"{len(grp)} label blocks, expected EOF1+EOF2"
            )
        eof1 = expect(decode(*grp[0]), "EOF1", grp[0][0])
        expect(decode(*grp[1]), "EOF2", grp[1][0])
        if eof1[4:21].strip() != dsname:
            raise ValueError(
                f"awstape: EOF1 dataset {eof1[4:21].strip()!r} != HDR1 "
                f"dataset {dsname!r} in {path!r}"
            )
        count = int(eof1[54:60])
        if count != n_data.get(ds, 0):
            raise ValueError(
                f"awstape: EOF1 block count {count} != "
                f"{n_data.get(ds, 0)} data blocks walked for dataset "
                f"{dsname!r} in {path!r} (torn tape?)"
            )
        if selected is None and choose(ds):
            selected = ds  # empty selected dataset: still validate
            check_selected(ds)
    if not headers:
        raise ValueError(
            f"awstape: no SL label groups found in {path!r} (unlabeled "
            "tape read with labels=sl?)"
        )
    if selected is None or not validated:
        want = (
            f"dataset {opts.dataset!r}" if opts.dataset is not None
            else f"fileSeq {opts.file_seq}" if opts.file_seq is not None
            else "the first dataset"
        )
        raise ValueError(
            f"awstape: {path!r} does not hold {want} "
            f"(cataloged: {[names[d] for d in sorted(names)]})"
        )


class AwsTapeReader(DataSourceReader):
    """One partition per image (chunk headers chain — no random entry);
    fleets of images parallelize across tasks."""

    def __init__(self, opts: _TOptions, path: str):
        self.opts = opts
        self.path = path

    def partitions(self):
        files = _list_files(self.path, "awstape")
        return [FixedLenPartition(p, 0, _WHOLE_FILE) for p in files] or [
            FixedLenPartition("", 0, 0)
        ]

    def read(self, partition: FixedLenPartition):
        o = self.opts
        if not partition.path:
            return iter(())

        def gen():
            with open(partition.path, "rb") as f:
                walk = (
                    iter_labeled_blocks(f, partition.path, o)
                    if o.labels == "SL"
                    else iter_blocks(f, partition.path)
                )
                units = (
                    _deblocked(walk, partition.path, o.record_length)
                    if o.recfm == "F"
                    else ((tf, boff, block, len(block)) for tf, boff, block, _r in walk)
                )
                yield from framed_batches(o, partition.path, units, o.batch_target)

        return gen()


def _deblocked(walk, path: str, record_length: int):
    """recfm=F units: each block at its offset in the DEBLOCKED byte
    stream, checked to hold whole records."""
    data_pos = 0
    for tf, boff, block, _resume in walk:
        if len(block) % record_length != 0:
            raise ValueError(
                f"awstape: block at offset {boff} in {path!r} is "
                f"{len(block)} bytes, not a multiple of recordLength "
                f"{record_length}"
            )
        yield tf, data_pos, block, len(block)
        data_pos += len(block)


# Tail ONE growing AWS image (recfm=U, unlabeled): an offset is the full
# walk state ``{"pos", "prev", "tf", "mark"}`` — the next chunk header's
# position plus the backspace-chain value and tape-file counters needed
# to re-enter there, so restart replays re-validate the exact chain they
# first walked.  A half-written chunk chain at EOF stays unread until
# its ENDREC chunk lands; a closed tape (double mark) yields no new rows.
AwsTapeStreamReader = TailStreamReader


class AwsTapeWriter(_PartWriter):
    """One ``.aws`` image per input partition, each a complete tape:
    data blocks, tapemark, end-of-tape tapemark."""

    _PART_SUFFIXES = (".aws",)

    def write_parts(self, iterator, open_part) -> None:
        o = self.opts
        n_blocks = 0
        prev_len = 0
        out: list[bytes] = []

        def emit_block(block: bytes) -> None:
            nonlocal prev_len, n_blocks
            n_blocks += 1
            view = memoryview(block)
            first = True
            while True:
                take = min(len(view), o.chunk_size)
                chunk = bytes(view[:take])
                view = view[take:]
                last = len(view) == 0
                flags1 = (_F1_NEWREC if first else 0) | (
                    _F1_ENDREC if last else 0
                )
                out.append(
                    struct.pack("<HHBB", len(chunk), prev_len, flags1, 0)
                )
                out.append(chunk)
                prev_len = len(chunk)
                first = False
                if last:
                    break

        def tapemark() -> None:
            nonlocal prev_len
            out.append(struct.pack("<HHBB", 0, prev_len, _F1_TAPEMARK, 0))
            prev_len = 0

        dsname = (
            o.dataset or os.path.basename(self.path).upper()[:17]
            or "SPARK.DATA"
        )
        if o.labels == "SL":
            lrecl = o.record_length if o.recfm == "F" else 0
            blksize = o.block_size if o.recfm == "F" else o.chunk_size
            emit_block(_label("VOL1", o.volser, o.label_encoding))
            emit_block(
                _label("HDR1", _hdr1_body(dsname, None), o.label_encoding)
            )
            emit_block(
                _label(
                    "HDR2", _hdr2_body(o.recfm, blksize, lrecl),
                    o.label_encoding,
                )
            )
            tapemark()
            n_blocks = 0  # EOF1 counts DATA blocks only

        block = bytearray()
        for payload in (p for batch in iterator for p in o.framed_payloads(batch)):
            if o.recfm == "F":
                block.extend(payload)
                if len(block) >= o.block_size:
                    emit_block(bytes(block[: o.block_size]))
                    del block[: o.block_size]
            else:
                if not payload:
                    raise ValueError(
                        "awstape: a RECFM=U record must have at least one "
                        "byte (an empty block is indistinguishable from a "
                        "tapemark)"
                    )
                emit_block(payload)
        if block:
            emit_block(bytes(block))
        if o.labels == "SL":
            if n_blocks > 999999:
                raise ValueError(
                    f"awstape: {n_blocks} data blocks exceeds the 6-digit "
                    "EOF1 block-count field; split the write"
                )
            data_blocks = n_blocks
            lrecl = o.record_length if o.recfm == "F" else 0
            blksize = o.block_size if o.recfm == "F" else o.chunk_size
            tapemark()
            emit_block(
                _label(
                    "EOF1", _hdr1_body(dsname, data_blocks), o.label_encoding
                )
            )
            emit_block(
                _label(
                    "EOF2", _hdr2_body(o.recfm, blksize, lrecl),
                    o.label_encoding,
                )
            )
        # tapemark after the file + end-of-tape mark
        tapemark()
        tapemark()
        f, _ = open_part(self.path, ".aws")
        f.write(b"".join(out))


class AwsTapeDataSource(FileDataSource):
    OPTIONS = _TOptions
    READER = AwsTapeReader
    WRITER = AwsTapeWriter

    def simpleStreamReader(self, schema: StructType) -> TailStreamReader:
        # no partitioned stream: a directory or glob cannot be tailed
        if os.path.isdir(self.path) or glob.has_magic(self.path):
            raise ValueError("awstape streaming tails a single image file")
        if self.opts.labels != "NONE":
            raise ValueError(
                "awstape streaming reads unlabeled images (the SL trailer "
                "is written after the data a tail is still following)"
            )
        if self.opts.recfm != "U":
            raise ValueError(
                "awstape streaming supports recfm=U (deblocked F offsets "
                "are not stable across growing batches)"
            )
        return super().simpleStreamReader(schema)


register = partial(filesource.register, source=AwsTapeDataSource)
