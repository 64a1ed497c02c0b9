"""``fixedlen`` — fixed-length binary record data source (batch + stream).

PySpark-native re-expression of the reference InputFormat/RecordReader
pair (MAPREDUCE-1176):

  * split planning aligned to record multiples so no record ever spans a
    partition — ``computeSplitSize``'s formula
    ``(size / recordLength) * recordLength`` with a min-one-record bump
    (FixedLengthInputFormat.java:276-298) reappears in ``_plan_file``;
  * the per-split read loop that tolerates short reads
    (FixedLengthRecordReader.java:221-243) reappears in ``_read_aligned``;
  * the offset key (FixedLengthRecordReader.java:256-278, 8-byte
    big-endian long) becomes a plain LongType ``record_offset`` column;
  * the slice key (FixedLengthRecordReader.java:252-254) becomes a
    BinaryType ``record_key`` column;
  * option validation mirrors FixedLengthInputFormat.java:344-361 but is
    EAGER (load time, not submit time) and fixes the reference's
    endAt==recordLength off-by-one (FLIF:351-352 accepts it; we reject).

Differences from the reference (documented improvements, SURVEY.md §2.1):
  * a file whose size is not a record multiple fails at PLANNING time
    (the reference throws mid-read, FLRR:231-235); ``malformedTail=drop``
    silently drops the tail instead;
  * decode is vectorized to Arrow RecordBatches (layout.py) instead of
    per-record reused buffers;
  * an optional typed field ``layout`` turns records into real columns.

The file layer it shares with ``varlen`` and ``awstape`` (listing, codecs,
part commit, stream readers, the ``DataSource`` shell) is ``filesource.py``.

Usage::

    fixedlen.register(spark)  # or spark.dataSource.register(FixedLengthDataSource)
    df = (spark.read.format("fixedlen")
          .option("recordLength", 40)
          .option("layout", "n_nationkey:0:5:int,n_name:5:30:string,...")
          .load("/data/nation.fixed"))
"""

from __future__ import annotations

import glob as _glob
import io
import os
import re
from dataclasses import dataclass
from functools import partial
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.datasource import DataSourceReader
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hadoop_fixedlengthinputformat_spark.sources import filesource, stats
from hadoop_fixedlengthinputformat_spark.sources.filesource import (
    _CODECS,
    READ_CHUNK_TARGET,
    FileDataSource,
    FixedLenPartition,
    PartitionedStreamReader,
    TailStreamReader,
    _codec_of,
    _flag,
    _open_read,
    _PartWriter,
    _simple_stream_fallback,
    _single_byte_encoding,
    _visible,
    _WHOLE_FILE,
)
from hadoop_fixedlengthinputformat_spark.sources.layout import (
    FieldSpec,
    decode_chunk,
    decode_chunk_multitype,
    encode_batch,
    fixed_width_view,
    layout_schema,
    parse_layout,
    parse_multitype,
    row_values,
)

DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024

_list_files = partial(filesource._list_files, source="fixedlen")


@dataclass
class _Options:
    record_length: int
    key_bounds: tuple[int, int] | None  # zero-based inclusive (start, end)
    fields: list[FieldSpec] | None
    with_offset: bool
    malformed_tail: str  # "fail" | "drop"
    max_partition_bytes: int
    decode_mode: str = "failfast"  # or "permissive": null malformed fields
    pruned: bool = False  # True when 'columns' narrowed the layout
    compression: str = "none"  # writer: none|gzip|bz2|xz|zstd(optional pkg)
    encoding: str = "utf-8"  # single-byte charset transcode (e.g. cp037)
    # multi-record-type dispatch (COBOL header/detail files): tag -> layout,
    # the union schema, and the discriminator byte slice
    multitype: dict[str, list[FieldSpec]] | None = None
    union_fields: list[FieldSpec] | None = None
    type_bounds: tuple[int, int] | None = None  # (start, len)
    # per-FILE record skips (mainframe feeds carry banner/summary records
    # outside the data layout); planning-time for seekable files, so the
    # skipped ranges are never read at all
    skip_header: int = 0
    skip_trailer: int = 0
    # writer-side: emit a <part>.stats.json min/max sidecar (readers use
    # any sidecar found next to an input file automatically)
    stats_sidecar: bool = False
    stats_block_records: int = stats.STATS_BLOCK_RECORDS
    # permissive-mode corrupt capture: name of a binary column holding the
    # RAW record bytes for rows where any field failed to decode
    corrupt_col: str | None = None
    # line-terminated fixed-width (printed reports, DB2 exports): each
    # record is recordLength DATA bytes followed by this terminator;
    # the on-disk stride is recordLength + len(line_sep)
    line_sep: bytes = b""
    # hive-style partition columns discovered from the directory layout
    # (dir/col=value/...) — set post-parse by the DataSource, appended
    # to the schema as string columns, prunable at planning time
    partition_cols: tuple[str, ...] = ()
    # writer-side: route rows into col=value subdirectories (the inverse
    # of partition_cols discovery); the named DataFrame columns are
    # consumed by the path, not encoded into the record bytes
    partition_by: tuple[str, ...] = ()
    # streaming admission control: cap how many NEW bytes a micro-batch
    # may admit (Spark file-source maxBytesPerTrigger analog) — bounds
    # executor memory / latency when a stream starts against a large
    # backlog or a burst lands.  None = unbounded.
    max_bytes_per_trigger: int | None = None
    # DECLARED per-file ascending sort field (the Hive SORTED BY
    # contract): pushed range predicates on it binary-search record
    # boundaries at planning time — O(log n) single-record probes
    # replace a full scan, exploiting the random-access-by-ordinal
    # property that defines fixed-width files.  The row-level mask
    # still runs, so a true claim gives identical results with pruned
    # IO; the claim itself is the user's (like bucketed tables).
    sorted_by: str | None = None
    # executor-parallel streaming (``partitionedStream=true``)
    partitioned_stream: bool = False

    SOURCE = "fixedlen"

    @property
    def stride(self) -> int:
        """On-disk bytes per record (data + terminator)."""
        return self.record_length + len(self.line_sep)

    @classmethod
    def parse(cls, options) -> "_Options":
        # COBOL on-ramp: .option("copybook", <copybook text>) derives
        # BOTH layout and recordLength from the PICTURE clauses
        # (sources/copybook.py).  recordLength may still be given when
        # the physical LRECL exceeds the copybook span (trailing
        # unreferenced filler); a smaller one is a contradiction.
        cpy_raw = options.get("copybook")
        cpy_layout = cpy_rl = None
        if cpy_raw is not None:
            if options.get("layout") or options.get("layouts"):
                raise ValueError(
                    "fixedlen: 'copybook' and 'layout'/'layouts' are "
                    "mutually exclusive"
                )
            from hadoop_fixedlengthinputformat_spark.sources.copybook import (
                copybook_to_layout,
            )

            cpy_layout, cpy_rl = copybook_to_layout(cpy_raw)
        raw_len = options.get("recordlength")
        if raw_len is None and cpy_rl is not None:
            raw_len = str(cpy_rl)
        if raw_len is None:
            # mirrors the required-config error of FLIF:326-336 / FLIF:249-261
            raise ValueError(
                "fixedlen: option 'recordLength' is required and must be > 0"
            )
        try:
            record_length = int(raw_len)
        except ValueError:
            raise ValueError(
                f"fixedlen: recordLength must be an integer, got {raw_len!r}"
            ) from None
        if cpy_rl is not None and record_length < cpy_rl:
            raise ValueError(
                f"fixedlen: recordLength={record_length} is smaller than "
                f"the copybook span ({cpy_rl} bytes)"
            )
        if record_length <= 0:
            raise ValueError(
                f"fixedlen: recordLength must be > 0, got {record_length}"
            )

        start_raw = options.get("keystartat")
        end_raw = options.get("keyendat")
        key_bounds: tuple[int, int] | None = None
        if (start_raw is None) != (end_raw is None):
            # both-or-neither rule of FLIF:348-349
            raise ValueError(
                "fixedlen: keyStartAt and keyEndAt must be set together"
            )
        if start_raw is not None:
            start, end = int(start_raw), int(end_raw)
            if start < 0 or end < 0 or start > end:
                # 0 <= start <= end rule of FLIF:350-361
                raise ValueError(
                    f"fixedlen: need 0 <= keyStartAt <= keyEndAt, got "
                    f"({start}, {end})"
                )
            if end >= record_length:
                # reference accepts end == recordLength (FLIF:351-352) which
                # would read one byte past the record — rejected here.
                raise ValueError(
                    f"fixedlen: keyEndAt={end} out of range for "
                    f"recordLength={record_length} (zero-based inclusive)"
                )
            key_bounds = (start, end)

        layout_raw = options.get("layout") or cpy_layout
        fields = parse_layout(layout_raw, record_length) if layout_raw else None

        layouts_raw = options.get("layouts")
        multitype = union_fields = type_bounds = None
        if layouts_raw is not None:
            if layout_raw is not None:
                raise ValueError(
                    "fixedlen: 'layout' and 'layouts' are mutually exclusive"
                )
            if options.get("columns") is not None:
                raise ValueError(
                    "fixedlen: 'columns' pruning is not supported with 'layouts'"
                )
            t_start = int(options.get("typestart", "0"))
            t_len = int(options.get("typelen", "1"))
            multitype, union_fields = parse_multitype(
                layouts_raw, record_length, t_start, t_len
            )
            type_bounds = (t_start, t_len)

        # Manual column pruning: Spark 4.1's Python Data Source API has no
        # pruneColumns hook, so a plain .select() can't reach the reader
        # and decode-all always runs.  The 'columns' option is the manual
        # knob: decode ONLY the named layout fields (a fixed-width record
        # is random-access by byte offset, so skipping a field costs
        # nothing).  Narrows decode work, the Arrow batch, and the
        # Python->JVM transfer to the projected fields.
        columns_raw = options.get("columns")
        pruned = False
        if columns_raw is not None:
            if fields is None:
                raise ValueError(
                    "fixedlen: 'columns' requires a 'layout' to prune"
                )
            want = [c.strip() for c in columns_raw.split(",") if c.strip()]
            known = {f.name for f in fields}
            unknown = [c for c in want if c not in known]
            if unknown or not want:
                raise ValueError(
                    f"fixedlen: 'columns' names unknown layout fields "
                    f"{unknown or columns_raw!r} (layout has {sorted(known)})"
                )
            keep = set(want)
            fields = [f for f in fields if f.name in keep]
            pruned = True

        with_offset = _flag(options, "includeOffset", True, "fixedlen")
        malformed = options.get("malformedtail", "fail").lower()
        if malformed not in ("fail", "drop"):
            raise ValueError("fixedlen: malformedTail must be 'fail' or 'drop'")
        mode = options.get("mode", "failfast").lower()
        if mode not in ("failfast", "permissive"):
            raise ValueError("fixedlen: mode must be 'failfast' or 'permissive'")
        mpb = int(options.get("maxpartitionbytes", DEFAULT_MAX_PARTITION_BYTES))
        mbt_raw = options.get("maxbytespertrigger")
        mbt = None
        if mbt_raw is not None:
            mbt = int(mbt_raw)
            if mbt <= 0:
                raise ValueError(
                    f"fixedlen: maxBytesPerTrigger must be > 0, got {mbt}"
                )
        compression = options.get("compression", "none").lower()
        if compression != "none":
            if compression not in _CODECS:
                *names, last = ["none", *_CODECS]
                raise ValueError(
                    "fixedlen: compression must be "
                    + ", ".join(f"'{n}'" for n in names) + f", or '{last}'"
                )
            # fail at option parse, not mid-write, when the codec's
            # package is missing
            _CODECS[compression].open(io.BytesIO(), "wb").close()
        encoding = _single_byte_encoding(
            options.get("encoding", "utf-8"), "fixedlen"
        )
        skip_header = int(options.get("skipheaderrecords", "0"))
        skip_trailer = int(options.get("skiptrailerrecords", "0"))
        if skip_header < 0 or skip_trailer < 0:
            raise ValueError(
                "fixedlen: skipHeaderRecords/skipTrailerRecords must be >= 0"
            )
        stats_sidecar = _flag(options, "statsSidecar", False, "fixedlen")
        stats_block = int(
            options.get("statsblockrecords", str(stats.STATS_BLOCK_RECORDS))
        )
        if stats_block <= 0:
            raise ValueError("fixedlen: statsBlockRecords must be > 0")
        sep_raw = options.get("linesep", "")
        line_sep = sep_raw.encode("utf-8") if sep_raw else b""
        if len(line_sep) > 2:
            raise ValueError(
                "fixedlen: lineSep must be at most 2 bytes (e.g. '\\n' or '\\r\\n')"
            )
        corrupt_col = options.get("corruptrecordcolumn")
        if corrupt_col is not None:
            if fields is None and multitype is None:
                raise ValueError(
                    "fixedlen: corruptRecordColumn requires a 'layout' or 'layouts'"
                )
            if mode != "permissive":
                raise ValueError(
                    "fixedlen: corruptRecordColumn requires mode=permissive "
                    "(failfast raises instead of capturing)"
                )
            declared = fields if fields is not None else union_fields
            taken = {f.name for f in declared} | {
                "record_offset", "record_key", "record_type",
            }
            if corrupt_col in taken:
                raise ValueError(
                    f"fixedlen: corruptRecordColumn {corrupt_col!r} clashes "
                    "with an existing column"
                )
        pby_raw = options.get("partitionby")
        partition_by: tuple[str, ...] = ()
        if pby_raw:
            partition_by = tuple(
                c.strip() for c in pby_raw.split(",") if c.strip()
            )
            if fields is None:
                raise ValueError(
                    "fixedlen: partitionBy requires a 'layout' (raw and "
                    "multitype writes are unpartitioned)"
                )
            clash = [c for c in partition_by if c in {f.name for f in fields}]
            if clash:
                raise ValueError(
                    f"fixedlen: partitionBy column(s) {clash} are layout "
                    "fields — partition values live in the path, not the "
                    "record bytes"
                )
        sorted_by = options.get("sortedby")
        if sorted_by is not None:
            if fields is None:
                raise ValueError(
                    "fixedlen: sortedBy requires a 'layout' (the sort "
                    "field must be a decodable layout field)"
                )
            if sorted_by not in stats.scalar_fields(fields):
                raise ValueError(
                    f"fixedlen: sortedBy field {sorted_by!r} is not a "
                    "scalar layout field"
                )
        return cls(
            record_length, key_bounds, fields, with_offset, malformed, mpb,
            mode, pruned, compression, encoding,
            multitype, union_fields, type_bounds,
            skip_header, skip_trailer, stats_sidecar, stats_block,
            corrupt_col, line_sep, (), partition_by,
            max_bytes_per_trigger=mbt,
            sorted_by=sorted_by,
            partitioned_stream=_flag(
                options, "partitionedStream", False, "fixedlen"
            ),
        )

    def trigger_budget(self) -> int | None:
        """maxBytesPerTrigger floored to whole on-disk records (min 1)."""
        if self.max_bytes_per_trigger is None:
            return None
        return max(self.stride, (self.max_bytes_per_trigger // self.stride) * self.stride)

    def spark_schema(self) -> StructType:
        out: list[StructField] = []
        if self.with_offset:
            out.append(StructField("record_offset", LongType(), False))
        if self.key_bounds is not None:
            out.append(StructField("record_key", BinaryType(), False))
        if self.multitype is not None:
            out.append(StructField("record_type", StringType(), False))
            out.extend(layout_schema(self.union_fields).fields)
            if self.corrupt_col is not None:
                out.append(StructField(self.corrupt_col, BinaryType(), True))
        elif self.fields is None:
            out.append(StructField("value", BinaryType(), False))
        else:
            out.extend(layout_schema(self.fields).fields)
            if self.corrupt_col is not None:
                out.append(StructField(self.corrupt_col, BinaryType(), True))
        for c in self.partition_cols:
            out.append(StructField(c, StringType(), True))
        return StructType(out)

    def arrow_schema(self) -> pa.Schema:
        return to_arrow_schema(self.spark_schema())

    # the stream hooks of PartitionedStreamReader and TailStreamReader

    @property
    def INITIAL_OFFSET(self) -> dict:
        # the tail skips header records once, at the start of the stream
        return {"pos": self.skip_header * self.record_length}

    def list_files(self, path: str) -> list[str]:
        return _list_files(path)

    def batch_reader(self, path: str) -> "FixedLengthReader":
        return FixedLengthReader(self, path)

    def usable_end(self, path: str) -> int:
        """The end of a member's last whole record; a compressed member
        is ``_CODEC_DONE`` (read whole once, when it appears)."""
        if _codec_of(path):
            return _CODEC_DONE
        size = os.path.getsize(path)
        return size - size % self.stride

    def plan(self, path: str, seen: int | None, hi: int) -> list["FixedLenPartition"]:
        if _codec_of(path):
            return [] if seen else [FixedLenPartition(path, 0, _WHOLE_FILE)]
        # floor at the header region even for already-seen files: a file
        # first observed while shorter than the header (e.g. 0 bytes)
        # checkpoints a truncated offset, and resuming from it would emit
        # banner records as data once the file grows
        lo = max(seen or 0, self.skip_header * self.stride)
        return _split_range(path, lo, hi, self.stride, self.max_partition_bytes)

    def tail_batches(self, path, lo, hi, stop_on_partial, max_bytes):
        # the size is floored to whole records, so a record cut short
        # at EOF is never read
        pos = lo["pos"]
        if hi is None:
            size = os.path.getsize(path)
            end = size - size % self.record_length
            if max_bytes is not None:
                end = min(end, pos + max_bytes)
        else:
            end = hi["pos"]
        if end <= pos:
            return [], lo
        part = FixedLenPartition(path, pos, end)
        return self.batch_reader(path).read(part), {"pos": end}


_PARTDIR_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*)=(.*)$")


def _discover(path: str) -> tuple[list[tuple[str, dict]], tuple[str, ...]]:
    """Hive-style dataset discovery: ``dir/col=value/.../part.fixed``.

    Returns ([(file, {col: value}), ...], partition_column_names).
    A plain file / flat directory / glob yields empty partition dicts.
    Partition values are STRINGS (cast downstream), decoded with
    URL-unquoting as hive writers produce.  Nesting must be consistent:
    every leaf file sits under the same column sequence."""
    if not os.path.isdir(path):
        return [(p, {}) for p in _list_files(path)], ()
    entries = sorted(os.listdir(path))
    part_dirs = [
        e for e in entries
        if os.path.isdir(os.path.join(path, e)) and _PARTDIR_RE.match(e)
    ]
    if not part_dirs:
        return [(p, {}) for p in _list_files(path)], ()
    loose = [
        e for e in entries
        if _visible(os.path.join(path, e))
    ]
    if loose:
        raise ValueError(
            f"fixedlen: {path!r} mixes partition directories with loose "
            f"files ({loose[:3]}); a hive-style dataset must be fully "
            "partitioned"
        )
    from urllib.parse import unquote

    out: list[tuple[str, dict]] = []
    cols: tuple[str, ...] | None = None
    stack: list[tuple[str, dict]] = [
        (os.path.join(path, d), {}) for d in part_dirs
    ]

    def walk(p: str, vals: dict) -> None:
        nonlocal cols
        base = os.path.basename(p)
        m = _PARTDIR_RE.match(base)
        if not m:
            raise ValueError(
                f"fixedlen: non-partition directory {p!r} inside a "
                "hive-style dataset"
            )
        vals = {**vals, m.group(1): unquote(m.group(2))}
        subdirs = [
            e for e in sorted(os.listdir(p))
            if os.path.isdir(os.path.join(p, e))
        ]
        files = [
            os.path.join(p, e) for e in sorted(os.listdir(p))
            if _visible(os.path.join(p, e))
        ]
        if subdirs and files:
            raise ValueError(
                f"fixedlen: {p!r} mixes files and partition subdirectories"
            )
        if subdirs:
            for d in subdirs:
                walk(os.path.join(p, d), vals)
            return
        here = tuple(vals)
        if cols is None:
            cols = here
        elif cols != here:
            raise ValueError(
                f"fixedlen: inconsistent partition nesting: {cols} vs {here}"
            )
        for f in files:
            out.append((f, vals))

    for p, vals in stack:
        walk(p, vals)
    if not out:
        raise FileNotFoundError(f"fixedlen: no input files at {path!r}")
    return out, cols or ()


_CODEC_DONE = 1  # stream offset of a compressed member: emitted whole


def _plan_file(
    path: str, opts: _Options
) -> list[FixedLenPartition]:
    """Record-aligned split plan for one file — the engine's
    ``computeSplitSize`` (FixedLengthInputFormat.java:276-298).

    Gzip: the reference marks compressed files non-splittable and then
    REJECTS them outright in the reader (FixedLengthInputFormat.java:371-380,
    FixedLengthRecordReader.java:148-152).  The engine keeps the
    non-splittable half (one whole-file partition — a gzip stream has no
    seekable record boundaries) but actually reads it, decompressing on
    the fly; alignment is validated at stream end since the uncompressed
    size isn't known at planning time.
    """
    if _codec_of(path):
        return [FixedLenPartition(path, 0, _WHOLE_FILE)]
    size = os.path.getsize(path)
    rl = opts.stride  # on-disk record stride (= recordLength + lineSep)
    usable = size - (size % rl)
    if size % rl != 0 and opts.malformed_tail == "fail":
        # planning-time version of the reference's mid-record EOF error
        # (FixedLengthRecordReader.java:231-235)
        raise ValueError(
            f"fixedlen: file {path!r} size {size} is not a multiple of "
            f"the record stride {rl} (trailing {size % rl} bytes); "
            "set malformedTail=drop to ignore the tail"
        )
    # header/trailer records are sliced off the plan, never read: the
    # file is seekable so the skip costs zero IO.  record_offset keeps
    # TRUE file positions (the first data record sits at header*rl).
    lo = min(opts.skip_header * rl, usable)
    hi = max(usable - opts.skip_trailer * rl, lo)
    return _split_range(path, lo, hi, rl, opts.max_partition_bytes)


def _split_range(
    path: str, lo: int, hi: int, rl: int, max_partition_bytes: int
) -> list[FixedLenPartition]:
    """Record-aligned partitions tiling ``[lo, hi)`` of one file.

    The split size is ``(target // rl) * rl``, bumped to at least one
    record (FLIF:283-292), and sets the split count; the records are then
    spread evenly over that many splits, so sizes differ by at most one
    record and no split exceeds the target — no runt tail split."""
    n = (hi - lo) // rl
    if n <= 0:
        return []
    cap = max(1, max_partition_bytes // rl)
    k = -(-n // cap)
    bounds = [lo + (i * n // k) * rl for i in range(k + 1)]
    return [FixedLenPartition(path, s, e) for s, e in zip(bounds, bounds[1:])]


def split_bytes_per_core(size: int, record_length: int, cores: int) -> int:
    """``maxPartitionBytes`` that plans one split per core for a file of
    ``size`` bytes: ``min(cores, records)`` splits of
    ``ceil(records / splits)`` whole records each."""
    n = size // record_length
    splits = max(1, min(cores, n))
    return max(1, -(-n // splits)) * record_length


def _read_aligned(
    f, start: int, end: int, chunk_records: int, rl: int
) -> Iterator[bytearray]:
    """Yield record-aligned byte chunks in [start, end); short-read-safe
    (port of the read loop FixedLengthRecordReader.java:221-243 — kept for
    object-store streams where read(n) may return fewer bytes).

    Each chunk is read straight into a fresh ``bytearray`` (one copy out
    of the file); a fresh one per chunk because decoded batches keep
    ``np.frombuffer`` views of it.  File objects without ``readinto``
    fall back to ``read``."""
    f.seek(start)
    readinto = getattr(f, "readinto", None)
    pos = start
    while pos < end:
        want = min(chunk_records * rl, end - pos)
        buf = bytearray(want)
        with memoryview(buf) as view:
            filled = 0
            while filled < want:
                if readinto is not None:
                    got = readinto(view[filled:])
                else:
                    data = f.read(want - filled)
                    got = len(data)
                    view[filled : filled + got] = data
                if not got:
                    raise IOError(
                        f"fixedlen: unexpected EOF at {pos + filled} "
                        f"(mid-record; cf. FixedLengthRecordReader.java:231-235)"
                    )
                filled += got
        pos += want
        yield buf


def _read_codec_stream(
    path: str,
    codec: str,
    chunk_records: int,
    rl: int,
    malformed_tail: str,
    skip_header: int = 0,
    skip_trailer: int = 0,
) -> Iterator[bytes]:
    """Yield record-aligned chunks from a compressed stream (gzip/bz2/xz;
    no seeking; single whole-file partition).  A trailing partial record
    follows the same malformedTail policy as the planning-time size check.

    The stream is not seekable, so header records are discarded as they
    decompress and trailer records are withheld through a rolling
    holdback buffer (the last ``skip_trailer`` records are only known to
    be the trailer once EOF arrives)."""
    carry = b""
    to_skip = skip_header * rl
    holdback = skip_trailer * rl
    pending = b""  # record-aligned bytes retained until EOF proves
    # they're data, not trailer
    with _open_read(path) as f:
        while True:
            got = f.read(chunk_records * rl)
            if not got:
                break
            if to_skip:
                drop = min(to_skip, len(got))
                got = got[drop:]
                to_skip -= drop
                if not got:
                    continue
            carry += got
            usable = len(carry) - (len(carry) % rl)
            if usable:
                pending += carry[:usable]
                carry = carry[usable:]
            emit = len(pending) - holdback
            if emit > 0:
                yield pending[:emit]
                pending = pending[emit:]
    if carry:
        if malformed_tail == "fail":
            raise IOError(
                f"fixedlen: {codec} stream {path!r} ends mid-record "
                f"({len(carry)} trailing bytes; cf. "
                "FixedLengthRecordReader.java:231-235); "
                "set malformedTail=drop to ignore the tail"
            )


class FixedLengthReader(DataSourceReader):
    """Batch reader with filter pushdown (Spark 4.1 Python Data Source
    ``pushFilters``): supported predicates on decoded layout fields (and
    ``record_offset``) are applied to each Arrow batch BEFORE it crosses
    the Python->JVM boundary, so a selective scan ships only matching
    rows.  The reference emits every record unconditionally
    (FixedLengthRecordReader.java:215-262) — pushdown is pure engine
    extension."""

    def __init__(self, opts: _Options, path: str):
        self.opts = opts
        self.path = path
        self.pushed = []  # Filters fully handled here (not re-checked by Spark)

    def pushFilters(self, filters):
        # scalar layout fields, record_offset, and the partition columns
        # (constant per file: pushed filters on them prune whole
        # DIRECTORIES at planning time, and the row mask still applies)
        decodable = set(stats.scalar_fields(self.opts.fields))
        if self.opts.with_offset:
            decodable.add("record_offset")
        decodable.update(self.opts.partition_cols)
        for flt in filters:
            if stats.column_of(flt) in decodable:
                self.pushed.append(flt)
            else:
                yield flt  # unsupported -> Spark evaluates post-scan

    def _hive_may_match(self, vals: dict) -> bool:
        """May a file whose directory values are ``vals`` match?"""
        return all(
            stats.may_match(flt, vals[c], vals[c])
            for flt in self.pushed
            if (c := stats.column_of(flt)) in vals
        )

    def _sorted_byte_bounds(self, path: str) -> tuple[int, int] | None:
        """[lo_byte, hi_byte) a sorted file can possibly match, found by
        BINARY SEARCH over record boundaries in Spark's value order:
        ~2·log2(n) single-record seeks replace reading the whole file —
        the planning-time index a SORTED fixed-width file inherently is
        (record ordinal -> byte offset is exact arithmetic, FLIF:276-298).
        Conservative: any decode/compare failure keeps the full range;
        the row-level Arrow mask still runs either way."""
        o = self.opts
        rng = stats.allowed_range(self.pushed, o.sorted_by) if o.sorted_by else None
        if rng is None or _codec_of(path):
            return None
        field = stats.scalar_fields(o.fields)[o.sorted_by]
        rl = o.stride
        size = os.path.getsize(path)
        usable = size - (size % rl)
        base = min(o.skip_header * rl, usable)
        top = max(usable - o.skip_trailer * rl, base)
        n = (top - base) // rl
        if n == 0:
            return base, base
        sub_schema = pa.schema([pa.field(field.name, field.arrow_type())])
        above_lo = stats.Interval(rng.lo, rng.lo_strict)
        below_hi = stats.Interval(hi=rng.hi, hi_strict=rng.hi_strict)
        try:
            with open(path, "rb") as f:

                def key(i: int) -> tuple:
                    f.seek(base + i * rl)
                    rec = f.read(o.record_length)
                    batch = decode_chunk(
                        rec, o.record_length, [field], 0, False, None,
                        sub_schema, encoding=o.encoding,
                    )
                    k = batch.column(0)[0].as_py()
                    if k is None:
                        # a NULL sort key makes the bisect predicate
                        # non-monotone (treating it as below-range can
                        # clamp away matching bytes); unprovable -> the
                        # except keeps the whole file
                        raise ValueError("NULL sort key mid-file")
                    return stats.order_key(k)

                def bisect(pred) -> int:
                    """First index i in [0, n] with pred(key(i)) true
                    (pred monotone under the sort contract)."""
                    lo_i, hi_i = 0, n
                    while lo_i < hi_i:
                        mid = (lo_i + hi_i) // 2
                        if pred(key(mid)):
                            hi_i = mid
                        else:
                            lo_i = mid + 1
                    return lo_i

                first = 0 if rng.lo is None else bisect(lambda k: above_lo.meets(k, k))
                last = n if rng.hi is None else bisect(lambda k: not below_hi.meets(k, k))
        except (TypeError, ValueError, OSError):
            return None  # unprovable: keep the whole file
        return base + first * rl, base + max(first, last) * rl

    def partitions(self):
        """Record-aligned partitions of every input file, minus what the
        pushed filters prove empty: hive directory values, the sorted
        bisect, record offsets and stats sidecar blocks, in that order."""
        o = self.opts
        fields_by_name = stats.scalar_fields(o.fields)
        offsets = stats.allowed_range(self.pushed, "record_offset")
        on_fields = any(stats.column_of(flt) in fields_by_name for flt in self.pushed)
        parts: list[FixedLenPartition] = []
        for p, vals in _discover(self.path)[0]:
            if not self._hive_may_match(vals):
                continue
            sb = self._sorted_byte_bounds(p)
            payload = stats.load_sidecar(p) if on_fields else None
            for part in _plan_file(p, o):
                whole = part.end == _WHOLE_FILE
                if sb is not None and not whole:
                    part.start, part.end = max(part.start, sb[0]), min(part.end, sb[1])
                if not whole and (
                    part.end <= part.start
                    or not stats.range_may_match(offsets, part.start, part.end - 1)
                ):
                    continue
                if payload is not None and not stats.partition_may_match(
                    payload,
                    o.stride,  # byte->record ordinal mapping
                    part.start,
                    # gzip: compressed size says nothing about record
                    # count — test every block (whole-file partition)
                    2**62 if whole else part.end,
                    self.pushed,
                    fields_by_name,
                    skip_records=o.skip_header,
                ):
                    continue
                part.partvals = vals
                parts.append(part)
        # zero-record dataset still needs one (empty) partition for Spark
        return parts or [FixedLenPartition("", 0, 0)]

    def read(self, partition: FixedLenPartition):
        o = self.opts
        if partition.end != _WHOLE_FILE and partition.end <= partition.start:
            return iter(())
        stride = o.stride
        chunk_records = max(1, READ_CHUNK_TARGET // stride)
        full_schema = o.arrow_schema()
        n_part_cols = len(o.partition_cols)
        # the byte decoder fills everything except the trailing
        # partition-value constants
        schema = (
            pa.schema(list(full_schema)[: len(full_schema) - n_part_cols])
            if n_part_cols
            else full_schema
        )
        sep = o.line_sep

        def add_partvals(batch: pa.RecordBatch) -> pa.RecordBatch:
            if not n_part_cols:
                return batch
            arrays = batch.columns + [
                pa.array([partition.partvals.get(c)] * batch.num_rows, pa.string())
                for c in o.partition_cols
            ]
            return pa.RecordBatch.from_arrays(arrays, schema=full_schema)

        def strip_sep(chunk: bytes) -> bytes:
            """Drop the per-record terminator from a stride-aligned chunk
            (one numpy slice — no per-record work).  Failfast validates
            every terminator; permissive tolerates mangled ones (the
            DATA bytes still decode; a mangled record usually also fails
            field decode and lands in the quarantine column)."""
            import numpy as _np

            m = _np.frombuffer(chunk, dtype=_np.uint8).reshape(-1, stride)
            if o.decode_mode != "permissive":
                tail = m[:, o.record_length:]
                want = _np.frombuffer(sep, dtype=_np.uint8)
                if not bool((tail == want).all()):
                    bad = int(_np.nonzero(~(tail == want).all(axis=1))[0][0])
                    raise ValueError(
                        f"fixedlen: record terminator mismatch (lineSep="
                        f"{sep!r}) at record index {bad} of a chunk in "
                        f"{partition.path!r}"
                    )
            return _np.ascontiguousarray(m[:, : o.record_length]).tobytes()

        def decode(chunks: Iterator[bytes]):
            # record_offset is the position in the UNCOMPRESSED stream for
            # gzip, matching the reference's file-global-offset key on the
            # logical record stream (skipped header records still occupy
            # their positions, so the first data record is at header*stride).
            offset = (
                o.skip_header * stride
                if partition.end == _WHOLE_FILE
                else partition.start
            )
            for chunk in chunks:
                raw_len = len(chunk)
                if sep:
                    chunk = strip_sep(chunk)
                if o.multitype is not None:
                    batch = decode_chunk_multitype(
                        chunk,
                        o.record_length,
                        o.multitype,
                        o.union_fields,
                        o.type_bounds,
                        offset,
                        o.with_offset,
                        o.key_bounds,
                        schema,
                        permissive=o.decode_mode == "permissive",
                        encoding=o.encoding,
                        offset_stride=stride,
                        corrupt_column=o.corrupt_col is not None,
                    )
                else:
                    batch = decode_chunk(
                        chunk,
                        o.record_length,
                        o.fields,
                        offset,
                        o.with_offset,
                        o.key_bounds,
                        schema,
                        permissive=o.decode_mode == "permissive",
                        encoding=o.encoding,
                        corrupt_column=o.corrupt_col is not None,
                        offset_stride=stride,
                    )
                offset += raw_len
                yield stats.apply(self.pushed, add_partvals(batch))

        if partition.end == _WHOLE_FILE:
            return decode(
                _read_codec_stream(
                    partition.path, _codec_of(partition.path) or "gzip",
                    chunk_records, stride,
                    o.malformed_tail, o.skip_header, o.skip_trailer,
                )
            )

        def gen():
            with open(partition.path, "rb") as f:
                yield from decode(
                    _read_aligned(
                        f, partition.start, partition.end, chunk_records,
                        stride,
                    )
                )

        return gen()


def _raw_records(col: pa.Array, rl: int) -> np.ndarray:
    """Raw mode: the (n, rl) records of the ``value`` column, each value
    exactly recordLength bytes (else the first bad row's error)."""
    if (
        (pa.types.is_binary(col.type) or pa.types.is_large_binary(col.type))
        and col.null_count == 0
        and pc.all(pc.equal(pc.binary_length(col), rl)).as_py()
    ):
        return fixed_width_view(col, rl)
    values = []
    for v in row_values(col):  # row by row: a short value before a NULL raises first
        b = bytes(v)
        if len(b) != rl:
            raise ValueError(
                f"fixedlen raw write: 'value' is {len(b)} bytes, "
                f"expected recordLength={rl}"
            )
        values.append(b)
    return np.frombuffer(b"".join(values), dtype=np.uint8).reshape(-1, rl)


def _partition_groups(batch: pa.RecordBatch, cols: tuple[str, ...]):
    """``(subdir, rows)`` per partitionBy directory of ``batch``
    (``col=value/...``, values URL-quoted), in order of first
    appearance; the partition columns are consumed by the path, so
    ``rows`` lacks them.  Rows group by the directory text, not by value,
    so each directory has exactly one sink: NaN (unequal to itself) and
    ``-0.0`` (equal to ``0.0``, but named ``-0.0``) land once each."""
    from urllib.parse import quote

    keys = list(zip(*(row_values(batch.column(c)) for c in cols)))
    if any(v is None for key in keys for v in key):
        raise ValueError("fixedlen: partitionBy column values cannot be NULL")
    groups: dict[tuple, list[int]] = {}
    for i, key in enumerate(keys):
        groups.setdefault(tuple(map(str, key)), []).append(i)
    rest = batch.select([c for c in batch.schema.names if c not in cols])

    def subdir(texts: tuple) -> str:
        return os.path.join(*(f"{c}={quote(t, safe='')}" for c, t in zip(cols, texts)))

    if len(groups) == 1:
        return [(subdir(next(iter(groups))), rest)]
    return [(subdir(key), rest.take(pa.array(idx))) for key, idx in groups.items()]


class FixedLengthWriter(_PartWriter):
    """Engine extension: the reference has no OutputFormat at all
    (SURVEY.md §2.2) — this sink closes the round-trip.  One file per
    input partition and partitionBy directory, each Arrow batch encoded
    via the layout into one record matrix."""

    # overwrite clears data parts, codec members and stats sidecars
    _PART_SUFFIXES = (
        ".fixed",
        *(".fixed" + c.ext for c in _CODECS.values()),
        stats.sidecar_path(""),
    )
    _CLEAR_RECURSIVE = True

    def __init__(self, opts: _Options, path: str, overwrite: bool):
        # no layout => RAW mode: rows carry a 'value' binary column of
        # exactly recordLength bytes (the reader's raw schema) — enables
        # byte-level rewrites (compaction, re-bucketing) with zero
        # decode/encode cost
        if opts.pruned:
            # a pruned layout can't place every byte of a record
            raise ValueError(
                "fixedlen write does not accept 'columns' — write the full layout"
            )
        super().__init__(opts, path, overwrite)

    def write_parts(self, iterator, open_part) -> None:
        o = self.opts
        codec = None if o.compression == "none" else o.compression
        ext = ".fixed" + (_CODECS[codec].ext if codec else "")
        rl, sep = o.record_length, np.frombuffer(o.line_sep, dtype=np.uint8)
        with_stats = o.stats_sidecar and o.fields is not None
        # one sink (file, sidecar tmp, stats collector) per partitionBy
        # directory; "" is the unpartitioned one
        sinks: dict[str, tuple] = {}

        def sink_for(sub: str) -> tuple:
            s = sinks.get(sub)
            if s is None:
                d = os.path.join(self.path, sub) if sub else self.path
                os.makedirs(d, exist_ok=True)
                f, stats_tmp = open_part(
                    d, ext, stats.sidecar_path if with_stats else None, codec
                )
                coll = (
                    stats.StatsCollector(o.fields, o.stats_block_records)
                    if with_stats
                    else None
                )
                s = sinks[sub] = (f, stats_tmp, coll)
            return s

        if not o.partition_by:
            # eager default sink: a task with an empty iterator must
            # still emit its (empty) part file — otherwise writing an
            # empty DataFrame leaves a fileless directory and a later
            # read raises instead of returning an empty result
            sink_for("")
        for batch in iterator:
            groups = (
                _partition_groups(batch, o.partition_by)
                if o.partition_by
                else [("", batch)]
            )
            for sub, rows in groups:
                f, _stats_tmp, coll = sink_for(sub)
                if o.fields is None:
                    mat = _raw_records(rows.column("value"), rl)
                else:
                    mat = encode_batch(rows, o.fields, rl, encoding=o.encoding)
                if sep.size:
                    # the line terminator after every record
                    mat = np.hstack([mat, np.broadcast_to(sep, (len(mat), sep.size))])
                f.write(mat.tobytes())
                if coll is not None:
                    coll.add(rows)
        for _f, stats_tmp, coll in sinks.values():
            if coll is not None:
                stats.write_sidecar(stats_tmp, coll.payload())


class FixedLengthDataSource(FileDataSource):
    """spark.read.format("fixedlen") — see module docstring for options."""

    OPTIONS = _Options
    READER = FixedLengthReader
    WRITER = FixedLengthWriter

    _discovered = False

    def _discover_partitions(self) -> None:
        """Detect a hive-style col=value directory layout once (driver
        side); harmless when the path doesn't exist yet (write target)."""
        if self._discovered:
            return
        self._discovered = True
        try:
            _files, cols = _discover(self.path)
        except FileNotFoundError:
            return
        if not cols:
            return
        declared = {
            f.name
            for f in (self.opts.fields or self.opts.union_fields or [])
        } | {"record_offset", "record_key", "record_type", "value",
             self.opts.corrupt_col or ""}
        clash = [c for c in cols if c in declared]
        if clash:
            raise ValueError(
                f"fixedlen: partition column(s) {clash} clash with "
                "declared schema columns"
            )
        self.opts.partition_cols = cols

    def _stream_opts(self) -> _Options:
        if self.opts.skip_trailer:
            # a growing file has no final record yet — "last N records"
            # is unknowable until the stream ends
            raise ValueError(
                "fixedlen: skipTrailerRecords is not supported for streaming"
            )
        return self.opts

    def streamReader(self, schema: StructType) -> PartitionedStreamReader:
        # opt-in executor-parallel streaming
        if not self.opts.partitioned_stream:
            _simple_stream_fallback("partitionedStream not requested")
        if self.opts.max_bytes_per_trigger is not None:
            # per-batch admission control needs the batch's START offset,
            # which the Python DataSourceStreamReader API does not pass to
            # latestOffset() (the JVM SupportsAdmissionControl API does).
            # Emulating it with reader-instance state double-delivers when
            # the engine spreads calls across runner instances — refuse
            # instead of silently mis-batching.
            raise ValueError(
                "fixedlen: maxBytesPerTrigger requires the default "
                "(non-partitioned) stream reader; partitionedStream=true "
                "plans whole-availability batches"
            )
        # multitype works here: partitions delegate to the batch decode
        if os.path.isdir(self.path) or _glob.has_magic(self.path):
            self._discover_partitions()
            if self.opts.partition_cols:
                # the directory stream lister only sees files directly under
                # the path; silently streaming zero rows from a col=value
                # tree (while schema() advertises the partition columns)
                # would be a trap — fail loudly instead
                raise ValueError(
                    "fixedlen: hive-partitioned (col=value) datasets are "
                    "not streamable; stream a single partition directory "
                    "instead"
                )
            return PartitionedStreamReader(self._stream_opts(), self.path)
        if _codec_of(self.path):
            # a growing compressed file can't be tailed incrementally (no seek)
            raise ValueError(
                "fixedlen: streaming does not support compressed input"
            )
        # stride, not record_length: with lineSep the header region spans
        # skip_header * (record + sep) bytes
        return PartitionedStreamReader(
            self._stream_opts(), self.path,
            start=self.opts.skip_header * self.opts.stride,
        )

    def simpleStreamReader(self, schema: StructType) -> TailStreamReader:
        if _codec_of(self.path):
            raise ValueError(
                "fixedlen: streaming does not support compressed input"
            )
        if os.path.isdir(self.path) or _glob.has_magic(self.path):
            raise ValueError(
                "fixedlen: directory streaming requires partitionedStream=true"
            )
        if self.opts.line_sep:
            raise ValueError(
                "fixedlen: lineSep streaming requires partitionedStream=true"
            )
        if self.opts.multitype is not None:
            raise ValueError(
                "fixedlen: 'layouts' needs partitionedStream=true when "
                "streaming (the simple driver-side reader is single-layout)"
            )
        return TailStreamReader(self._stream_opts(), self.path)


# the stream readers as the fixedlen source builds them
FixedLenStreamReader = TailStreamReader
FixedLenDirectoryStreamReader = PartitionedStreamReader

register = partial(filesource.register, source=FixedLengthDataSource)
