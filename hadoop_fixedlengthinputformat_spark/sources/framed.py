"""The framed-record contract of the ``varlen`` and ``awstape`` sources.

Both sources read records whose boundaries come from framing on the
device (descriptor words, tape chunk headers) rather than from a
constant stride, and both expose such a record the same way:

  * a typed ``layout`` decodes the fixed PREFIX of ``prefixLength``
    bytes every record carries (``copybook`` derives both), and the
    variable remainder lands in a binary tail column (``tailColumn``,
    default ``record_tail``; ``includeTail=false`` drops it);
  * without a layout the whole payload is the binary ``value`` column;
  * ``record_offset`` (``includeOffset``) is the record's byte position,
    and awstape's ``tape_file`` (``includeFile``) leads the row;
  * ``encoding`` transcodes the prefix fields (single-byte charsets).

This module holds that contract once: the options, schema, Arrow batch,
sink payload and tail hook of ``filesource.TailStreamReader``
(:class:`FramedOptions`) and the batch accumulator of the read loops
(:func:`framed_batches`).  A source supplies only its framing: a record
walker, a tail walker over resume offsets, its own options and its part
writer; the file layer and the ``DataSource`` shell are
``sources/filesource.py``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import ClassVar, Iterator

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from hadoop_fixedlengthinputformat_spark.sources.filesource import (
    _flag,
    _single_byte_encoding,
)
from hadoop_fixedlengthinputformat_spark.sources.layout import (
    FieldSpec,
    decode_chunk,
    encode_batch,
    layout_schema,
    parse_layout,
    row_values,
)


@dataclass
class FramedOptions:
    """The options of the framed-record contract; a source's options
    class extends it with its framing options and supplies ``SOURCE``,
    ``INITIAL_OFFSET``, ``batch_target`` and :meth:`tail`."""

    prefix_length: int  # fixed prefix data bytes (0 in raw mode)
    fields: list[FieldSpec] | None  # None = raw mode ('value' = payload)
    with_offset: bool
    with_tail: bool
    tail_column: str
    encoding: str
    with_file: bool  # leading tape_file column (awstape only)
    # every payload is a run of whole prefix_length-byte records with no
    # tail (awstape recfm=F blocks)
    tiled: bool

    SOURCE: ClassVar[str]
    INITIAL_OFFSET: ClassVar[dict]

    @classmethod
    def parse_prefix(cls, options: dict) -> tuple[str | None, int]:
        """``(layout, prefix_length)`` from ``layout``/``prefixLength`` or
        ``copybook``; ``(None, 0)`` in raw mode.  ``options`` is a plain
        dict with lower-case keys."""
        source = cls.SOURCE
        layout_raw = options.get("layout")
        # COBOL on-ramp: the copybook describes the fixed PREFIX every
        # record carries; prefixLength derives from its span
        cpy_raw = options.get("copybook")
        if cpy_raw is not None:
            if layout_raw is not None:
                raise ValueError(
                    f"{source}: 'copybook' and 'layout' are mutually exclusive"
                )
            from hadoop_fixedlengthinputformat_spark.sources.copybook import (
                copybook_to_layout,
            )

            layout_raw, cpy_pl = copybook_to_layout(cpy_raw)
            options.setdefault("prefixlength", str(cpy_pl))
        pl_raw = options.get("prefixlength")
        if layout_raw is None:
            if pl_raw is not None:
                # a prefixLength in raw mode would be silently ignored and the
                # user would get undecoded 'value' rows with no signal
                raise ValueError(
                    f"{source}: option 'prefixLength' requires 'layout' (raw mode "
                    "emits the whole payload as 'value'; there is no prefix to "
                    "decode)"
                )
            return None, 0
        if pl_raw is None:
            raise ValueError(
                f"{source}: option 'prefixLength' is required with 'layout' "
                "(the fixed data bytes every record must carry)"
            )
        prefix_length = int(pl_raw)
        if prefix_length <= 0:
            raise ValueError(
                f"{source}: prefixLength must be > 0, got {prefix_length}"
            )
        return layout_raw, prefix_length

    @classmethod
    def framed_options(
        cls,
        options: dict,
        layout_raw: str | None,
        prefix_length: int,
        *,
        files: bool = False,
        tiled: bool = False,
    ) -> dict:
        """The contract's fields, for the source's constructor: the
        layout parsed at ``prefix_length`` bytes, the column flags, the
        tail name and the charset."""
        source = cls.SOURCE
        fields = (
            None if layout_raw is None else parse_layout(layout_raw, prefix_length)
        )
        with_offset = _flag(options, "includeOffset", True, source)
        with_file = files and _flag(options, "includeFile", False, source)
        # a tiled payload has no tail; only a tail the schema carries clashes
        with_tail = _flag(options, "includeTail", True, source) and not tiled
        tail_column = options.get("tailcolumn", "record_tail")
        if with_tail and tail_column in {f.name for f in fields or ()}:
            raise ValueError(
                f"{source}: tailColumn {tail_column!r} clashes with a layout field"
            )
        return dict(
            prefix_length=prefix_length,
            fields=fields,
            with_offset=with_offset,
            with_tail=with_tail,
            tail_column=tail_column,
            encoding=_single_byte_encoding(
                options.get("encoding", "utf-8"), source
            ),
            with_file=with_file,
            tiled=tiled,
        )

    @property
    def batch_target(self) -> int:
        """Payload bytes per Arrow batch and per stream read."""
        raise NotImplementedError

    def trigger_budget(self) -> int:
        """File bytes a tail micro-batch may span."""
        return self.batch_target

    def tail(
        self, fobj, path: str, lo: dict, hi: dict | None, stop_on_partial: bool
    ) -> Iterator[tuple[int | None, int, bytes, dict | None]]:
        """Walk ``fobj`` (positioned at ``lo``) from the resume offset
        ``lo`` up to the resume offset ``hi`` (None: to EOF); yield
        ``(file, offset, payload, resume)`` per record, where ``resume``
        is the offset right after the record when a walk may re-enter
        there, else None.  ``stop_on_partial`` turns a unit cut short at
        EOF into a clean stop (see :meth:`tail_batches`)."""
        raise NotImplementedError

    def tail_batches(self, path, lo, hi, stop_on_partial, max_bytes):
        """The tail hook of ``filesource.TailStreamReader``: the batch of
        the records from ``lo`` to ``hi`` (None: all complete records, up
        to ``max_bytes`` of file span when given), and the offset after
        the last admitted record (``lo`` when none).

        Only WHOLE records are admitted: a unit cut short at EOF is
        growth in flight and stays unread until complete, and records
        after the last safe resume point (mid-block, or before an open
        spanned record's last segment) wait for the next batch."""
        units: list[tuple[int | None, int, bytes, int]] = []
        end, admitted = lo, 0
        with open(path, "rb") as f:
            f.seek(lo["pos"])
            for file, off, payload, resume in self.tail(
                f, path, lo, hi, stop_on_partial
            ):
                units.append((file, off, payload, 0))
                # admit records only up to the LAST safe resume point: one
                # that ends mid-block replays from the block start next
                # batch (emitting it now would double-read it on restart)
                if resume is not None:
                    end, admitted = resume, len(units)
                    span = resume["pos"] - lo["pos"]
                    if max_bytes is not None and span >= max_bytes:
                        break
        return framed_batches(self, path, units[:admitted], None), end

    def spark_schema(self) -> StructType:
        out: list[StructField] = []
        if self.with_file:
            out.append(StructField("tape_file", IntegerType(), False))
        if self.with_offset:
            out.append(StructField("record_offset", LongType(), False))
        if self.fields is None:
            out.append(StructField("value", BinaryType(), False))
        else:
            out.extend(layout_schema(self.fields).fields)
            if self.with_tail:
                out.append(StructField(self.tail_column, BinaryType(), False))
        return StructType(out)

    def framed_batch(
        self,
        files: list[int | None],
        offsets: list[int],
        prefixes: bytearray,
        tails: list[bytes],
    ) -> pa.RecordBatch:
        """The Arrow batch of the records a read loop collected:
        ``offsets``, the concatenated fixed ``prefixes`` (``prefix_length``
        bytes each) and the variable ``tails``; with no layout, ``tails``
        holds each whole payload and becomes the ``value`` column.
        Column order is :meth:`spark_schema`'s; the layout columns are
        decoded by :func:`decode_chunk`."""
        cols: list[pa.Array] = []
        if self.with_file:
            cols.append(pa.array(files, type=pa.int32()))
        if self.with_offset:
            cols.append(pa.array(offsets, type=pa.int64()))
        if self.fields is None:
            cols.append(pa.array(tails, type=pa.binary()))
        else:
            layout_batch = decode_chunk(
                bytes(prefixes), self.prefix_length, self.fields, 0, False,
                None, to_arrow_schema(layout_schema(self.fields)),
                encoding=self.encoding,
            )
            cols.extend(layout_batch.columns)
            if self.with_tail:
                cols.append(pa.array(tails, type=pa.binary()))
        return pa.RecordBatch.from_arrays(
            cols, schema=to_arrow_schema(self.spark_schema())
        )

    def framed_payloads(self, batch: pa.RecordBatch) -> Iterator[bytes]:
        """Each row's record payload for the sink, the inverse of
        :meth:`framed_batch`, yielded in row order so the framer sees
        (and rejects) each one before the next is made: the raw
        ``value`` column with no layout, else the prefix (one
        :func:`encode_batch` record matrix) followed by the tail column
        (a NULL tail is empty, a string tail is UTF-8).  A batch the
        encoder rejects is encoded row by row, so the rows before the
        bad one reach the framer first."""
        if self.fields is None:
            for v in row_values(batch.column("value")):
                yield bytes(v)
            return
        pl, n = self.prefix_length, batch.num_rows
        try:
            flat = encode_batch(batch, self.fields, pl, encoding=self.encoding).tobytes()
            prefixes = (flat[i * pl : (i + 1) * pl] for i in range(n))
        except (ValueError, TypeError, ArithmeticError):  # the scalar encoders' errors
            prefixes = (
                encode_batch(batch.slice(i, 1), self.fields, pl, encoding=self.encoding).tobytes()
                for i in range(n)
            )
        if not (self.with_tail and self.tail_column in batch.schema.names):
            yield from prefixes
            return
        for p, t in zip(prefixes, row_values(batch.column(self.tail_column))):
            yield p if t is None else p + (t.encode("utf-8") if isinstance(t, str) else bytes(t))


def framed_batches(
    opts: FramedOptions,
    path: str,
    units: Iterator[tuple[int | None, int, bytes, int]],
    target: int | None,
) -> Iterator[pa.RecordBatch]:
    """The read loop of both sources: collect ``(file, offset, payload,
    size)`` units and cut an Arrow batch each time their ``size`` sum
    reaches ``target`` (None: one batch at the end).  A unit is one
    record split into prefix and tail, or, when ``opts.tiled``, a run of
    whole records at ``offset``, ``offset + prefix_length``, … kept as
    one extend.  A record shorter than the prefix raises."""
    pl, tiled, raw = opts.prefix_length, opts.tiled, opts.fields is None
    files: list[int | None] = []
    offsets: list[int] = []
    prefixes = bytearray()
    tails: list[bytes] = []
    pending = 0
    for file, off, payload, size in units:
        if tiled:
            files.extend([file] * (len(payload) // pl))
            offsets.extend(range(off, off + len(payload), pl))
            prefixes.extend(payload)
        else:
            if len(payload) < pl:
                raise ValueError(
                    f"{opts.SOURCE}: record at offset {off} in {path!r} is "
                    f"{len(payload)} bytes, shorter than the declared prefix "
                    f"({pl})"
                )
            files.append(file)
            offsets.append(off)
            if raw:
                tails.append(payload)
            else:
                prefixes.extend(payload[:pl])
                tails.append(payload[pl:])
        pending += size
        if target is not None and pending >= target:
            yield opts.framed_batch(files, offsets, prefixes, tails)
            files, offsets, prefixes, tails = [], [], bytearray(), []
            pending = 0
    if offsets:
        yield opts.framed_batch(files, offsets, prefixes, tails)
