"""The file layer the ``fixedlen``, ``varlen`` and ``awstape`` sources share.

In the reference, ``FixedLengthInputFormat`` subclasses Hadoop's
``FileInputFormat`` (FixedLengthInputFormat.java:79) and hands split
enumeration back to it (FLIF:364): listing, hidden-file filtering and
codecs belong to the file layer, not to the format.  This module is that
layer, each piece written once: the shared options (``_flag``,
``_single_byte_encoding``), listing, the codec table, the input
partition, the sink commit protocol (``_PartWriter``, ``_StreamSink``),
both stream readers and the ``DataSource`` shell with ``register``.  A
source module holds only its format: options, framing, batch reader and
its writer's ``write_parts``.
"""

from __future__ import annotations

import bz2
import codecs
import glob as _glob
import gzip
import lzma
import os
from contextlib import ExitStack, contextmanager
from typing import Callable, ClassVar, NamedTuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from hadoop_fixedlengthinputformat_spark.sources import stats
from hadoop_fixedlengthinputformat_spark.sources.layout import check_user_schema

# bytes per emitted Arrow batch (record-aligned).  Measured at sf0.1:
# 16 MB beats 4 MB by ~13% (fewer per-batch python/Arrow round trips);
# peak per-task memory stays ~3x chunk (raw + decoded columns), fine for
# 32 concurrent tasks per typical executor.
READ_CHUNK_TARGET = 16 * 1024 * 1024


def _flag(options, name: str, default: bool, source: str) -> bool:
    """Boolean option ``name``: 'true' or 'false' in any case; any other
    value raises instead of silently reading as false."""
    raw = options.get(name.lower())
    if raw is None:
        return default
    value = str(raw).lower()
    if value not in ("true", "false"):
        raise ValueError(
            f"{source}: option {name!r} must be 'true' or 'false', got {raw!r}"
        )
    return value == "true"


def _single_byte_encoding(enc_raw: str, source: str) -> str:
    """Canonical codec name of ``enc_raw``.  Only single-byte charsets
    are accepted: the record matrix is byte-indexed."""
    try:
        name = codecs.lookup(enc_raw).name
        probe = "0A ".encode(name)
    except LookupError:
        raise ValueError(f"{source}: unknown encoding {enc_raw!r}")
    if len(probe) != 3:
        raise ValueError(
            f"{source}: encoding {enc_raw!r} is not a single-byte charset"
        )
    return name


def _visible(p: str) -> bool:
    # skip _SUCCESS / .part-*.crc marker files, uncommitted writer tmps
    # (crashed-job leftovers), and stats sidecars, for both directory
    # and glob inputs
    base = os.path.basename(p)
    if base.startswith(("_", ".")) or ".tmp-" in base:
        return False
    if stats.is_sidecar(base):
        return False
    return os.path.isfile(p)


def _list_files(path: str, source: str, visible=_visible) -> list[str]:
    """Input files of a directory, a single file or a glob, filtered by
    the source's ``visible`` predicate."""
    if os.path.isdir(path):
        # an existing directory with no part files is an EMPTY dataset
        # (e.g. a committed write of an empty partitioned DataFrame), not
        # a user error — a missing path/glob still raises below
        return sorted(filter(visible, _glob.glob(os.path.join(path, "*"))))
    elif os.path.isfile(path):
        return [path]
    names = sorted(filter(visible, _glob.glob(path)))
    if not names:
        raise FileNotFoundError(f"{source}: no input files at {path!r}")
    return names


def _zstd_module():
    """The optional `zstandard` package, or a clear error."""
    try:
        import zstandard
    except ImportError as exc:  # pragma: no cover - package-present envs
        raise ValueError(
            "fixedlen: .zst member requires the optional 'zstandard' "
            "package (pip install zstandard); gzip/bz2/xz need nothing"
        ) from exc
    return zstandard


class _Codec(NamedTuple):
    ext: str
    # (raw binary file object, "rb" | "wb") -> the (de)compressing stream
    open: Callable


# Stream codecs (the reference defers to Hadoop's CompressionCodecFactory,
# so gzip/bzip2/xz files are all inputs its users have; the stdlib covers
# the same three).  All are unsplittable byte streams: one whole-file
# partition, record alignment validated at EOF.  A member is recognized
# by its extension; the ``compression`` write option names a codec.
# Written bytes are deterministic given a row order (speculative attempts
# produce identical files): gzip gets mtime=0 and an empty filename,
# bz2/xz/zstd frames carry no timestamps.  zstd is gated behind the
# optional `zstandard` package: with it absent, a .zst member (or
# ``compression=zstd``) fails with an install hint.
_CODECS = {
    "gzip": _Codec(
        ".gz",
        lambda raw, mode: gzip.GzipFile(filename="", mode=mode, fileobj=raw, mtime=0),
    ),
    "bz2": _Codec(".bz2", lambda raw, mode: bz2.BZ2File(raw, mode)),
    "xz": _Codec(".xz", lambda raw, mode: lzma.LZMAFile(raw, mode)),
    "zstd": _Codec(".zst", lambda raw, mode: _zstd_module().open(raw, mode)),
}


def _codec_of(path: str) -> str | None:
    for name, codec in _CODECS.items():
        if path.endswith(codec.ext):
            return name
    return None


@contextmanager
def _open_read(path: str):
    """``path`` opened for reading, decompressed when its extension
    names a codec."""
    codec = _codec_of(path)
    with open(path, "rb") as raw:
        if codec is None:
            yield raw
        else:
            with _CODECS[codec].open(raw, "rb") as f:
                yield f


_WHOLE_FILE = -1  # partition.end sentinel: an unsplittable member, read to EOF


class FixedLenPartition(InputPartition):
    """``[start, end)`` of one input file (``partvals``: fixedlen's hive
    directory values); path "" is the empty partition."""

    def __init__(self, path: str, start: int, end: int, partvals: dict | None = None):
        self.path = path
        self.start = start
        self.end = end
        self.partvals = partvals or {}


class _CommitMessage(WriterCommitMessage):
    """One message per task, shared by the fixedlen, varlen and awstape
    sinks: every part the task produced — several when partitionBy
    routes rows to multiple directories.  Each output is ``(tmp, final,
    sidecar_tmp, sidecar_final)``; the sidecar pair is ``None`` for a
    part without a ``.stats.json`` / ``.rdx.json`` sidecar."""

    def __init__(
        self, outputs: list[tuple[str, str, str | None, str | None]]
    ):
        self.outputs = outputs


# The sink commit protocol of all three fixed-width sources.  Tasks
# write hidden, attempt-unique tmps; the job commit renames them only
# once every task has succeeded, so a failed job commits nothing and leaves
# the earlier dataset in place.  A stream part's final name is a
# template that the micro-batch id prefixes at commit: a replayed batch
# overwrites its own files instead of duplicating records — exactly-once
# on top of the checkpoint's batch-id replay.  Local-FS rename here; on
# a cluster the same protocol runs against a shared store.


def _part_paths(
    d: str, ext: str, token: str, stream_mode: bool
) -> tuple[str, str]:
    """``(tmp, final)`` for the running task's part file in ``d``.
    ``token`` is unique per write job: unique final names make append
    mode additive, and tmp names collision-free across attempts."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if stream_mode:
        return (
            os.path.join(d, f".tmp-stream-{token}-{ctx.taskAttemptId()}"),
            os.path.join(d, f"part-{ctx.partitionId():05d}{ext}"),
        )
    final = os.path.join(d, f"part-{ctx.partitionId():05d}-{token}{ext}")
    return f"{final}.tmp-{ctx.taskAttemptId()}", final


def _promote(messages, batch_id: int | None = None) -> None:
    """Rename every tmp and its sidecar tmp to the final name; a stream
    commit passes its ``batch_id`` and the final names become
    ``batch-{id:08d}-part-{p:05d}{ext}`` in the part's own directory."""
    for m in messages:
        if m is None:
            continue
        for tmp, final, side_tmp, side_final in m.outputs:
            for src, dst in ((tmp, final), (side_tmp, side_final)):
                if src is None:
                    continue
                if batch_id is not None:
                    d, base = os.path.split(dst)
                    dst = os.path.join(d, f"batch-{batch_id:08d}-{base}")
                os.replace(src, dst)


def _clear_parts(
    path: str, token: str, suffixes: tuple[str, ...], recursive: bool
) -> None:
    """Overwrite: remove the earlier jobs' ``part-*`` files that end in
    one of ``suffixes``, keeping this job's (``token``) and every other
    file.  ``recursive`` also clears partitionBy subdirectories."""
    if not os.path.isdir(path):
        return
    walk = os.walk(path) if recursive else [next(os.walk(path))]
    for root, _dirs, files in walk:
        for fn in files:
            if (
                fn.startswith("part-")
                and fn.endswith(suffixes)
                and f"-{token}." not in fn
            ):
                os.remove(os.path.join(root, fn))


def _remove_tmps(messages) -> None:
    """Abort: remove every tmp and sidecar tmp the tasks reported."""
    for m in messages:
        if m is None:
            continue
        for tmp, _final, side_tmp, _side_final in m.outputs:
            for p in (tmp, side_tmp):
                if p and os.path.exists(p):
                    os.remove(p)


class _PartWriter(DataSourceArrowWriter):
    """The batch sink shell of the three fixed-width sources: a subclass
    writes one task's parts in ``write_parts``; the part files, the job
    token, the overwrite-clear of earlier jobs' parts and the
    commit/abort of the shared protocol live here.

    ``stream_mode`` (set by :class:`_StreamSink`) defers final naming to
    commit time (see ``_part_paths``)."""

    stream_mode = False
    # overwrite clears earlier ``part-*`` files ending in these (data
    # parts and their sidecars); ``_CLEAR_RECURSIVE`` also clears
    # partitionBy subdirectories
    _PART_SUFFIXES: tuple[str, ...] = ()
    _CLEAR_RECURSIVE = False

    def __init__(self, opts, path: str, overwrite: bool):
        import uuid

        self.opts = opts
        self.path = path
        self.overwrite = overwrite
        self.token = uuid.uuid4().hex[:10]

    def write_parts(self, iterator, open_part) -> None:
        """Write the task's batches to parts opened by ``open_part(d, ext,
        sidecar=None, codec=None)``: the part's file (through ``codec``, a
        ``_CODECS`` name) and its sidecar tmp, ``sidecar(tmp)``, which
        the writer must write."""
        raise NotImplementedError

    def write(self, iterator) -> _CommitMessage:
        """One task's parts, each closed at the end and removed with its
        sidecar tmp if the task raises (the job abort only sees the tmps
        of tasks that reported)."""
        os.makedirs(self.path, exist_ok=True)
        outputs: list[tuple[str, str, str | None, str | None]] = []

        def open_part(d: str, ext: str, sidecar=None, codec=None):
            tmp, final = _part_paths(d, ext, self.token, self.stream_mode)
            side = (sidecar(tmp), sidecar(final)) if sidecar else (None, None)
            outputs.append((tmp, final, *side))
            f = files.enter_context(open(tmp, "wb"))
            if codec is not None:
                f = files.enter_context(_CODECS[codec].open(f, "wb"))
            return f, side[0]

        try:
            with ExitStack() as files:
                self.write_parts(iterator, open_part)
        except BaseException:
            _remove_tmps([_CommitMessage(outputs)])
            raise
        return _CommitMessage(outputs)

    def commit(self, messages):
        if self.overwrite:
            _clear_parts(
                self.path, self.token, self._PART_SUFFIXES,
                recursive=self._CLEAR_RECURSIVE,
            )
        _promote(messages)

    def abort(self, messages):
        _remove_tmps(messages)


class _StreamSink(DataSourceStreamArrowWriter):
    """Any source's part writer as a streaming sink: the batch writer in
    ``stream_mode``, so a stream takes every write option the batch sink
    takes, committed by the shared protocol with the micro-batch id (parts
    land as ``batch-{id}-part-{p}{ext}``)."""

    def __init__(self, writer: _PartWriter):
        writer.stream_mode = True
        self._inner = writer

    def write(self, iterator) -> _CommitMessage:
        return self._inner.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        _promote(messages, batchId)

    def abort(self, messages, batchId: int) -> None:
        _remove_tmps(messages)


def _simple_stream_fallback(feature: str):
    """Send Spark to the source's ``simpleStreamReader``: its
    ``_streamReader`` falls back only on PySparkNotImplementedError (the
    builtin NotImplementedError crashes the source runner)."""
    from pyspark.errors import PySparkNotImplementedError

    raise PySparkNotImplementedError(
        errorClass="NOT_IMPLEMENTED", messageParameters={"feature": feature}
    )


class PartitionedStreamReader(DataSourceStreamReader):
    """The partitioned stream of every source: each micro-batch's new
    ranges are planned once and decoded on executors by the source's
    batch ``read(partition)``.

    An offset is ``{"files": {path: usable end}}`` over a directory or
    glob: each micro-batch picks up newly appeared members and the new
    bytes of known ones.  A single file (``start`` given) keeps the
    offset ``{"pos": usable end}``, beginning at ``start``.  Only whole
    records up to a safe resume point are exposed — the split-alignment
    invariant (FixedLengthInputFormat.java:276-298) carried into
    streaming.  The source's options supply the hooks:

      * ``list_files(path)``: the members under the stream path;
      * ``usable_end(path)``: a member's offset, its last safe resume
        point (fixedlen: the size floored to the stride; varlen: the
        size of an immutable part);
      * ``plan(path, seen, hi)``: the partitions of a member from its
        previous offset ``seen`` (None when new) to ``hi``;
      * ``batch_reader(path)``: the batch reader that reads them."""

    def __init__(self, opts, path: str, start: int | None = None):
        self.opts = opts
        self.path = path
        self.start = start

    def _files(self, offset: dict) -> dict:
        if self.start is None:
            return offset.get("files", {})
        return {self.path: offset["pos"]}

    def initialOffset(self) -> dict:
        return {"files": {}} if self.start is None else {"pos": self.start}

    def latestOffset(self) -> dict:
        files: dict[str, int] = {}
        try:
            names = self.opts.list_files(self.path)
        except FileNotFoundError:
            names = []
        for p in names:
            try:
                files[p] = self.opts.usable_end(p)
            except FileNotFoundError:
                # listed, then deleted before stat: skip this batch rather
                # than kill the stream (ADVICE r13); a later listing picks
                # it up if it reappears
                continue
        if self.start is None:
            return {"files": files}
        return {"pos": files.get(self.path, 0)}

    def partitions(self, start: dict, end: dict):
        seen = self._files(start)
        parts = [
            part
            for p, hi in self._files(end).items()
            for part in self.opts.plan(p, seen.get(p), hi)
        ]
        # an empty micro-batch still needs one (empty) partition
        return parts or [FixedLenPartition("", 0, 0)]

    def read(self, partition: FixedLenPartition):
        # executor-side; a batch reader reads an empty range as no rows
        return self.opts.batch_reader(self.path).read(partition)


class TailStreamReader(SimpleDataSourceStreamReader):
    """Tail ONE growing file with Spark's simple stream reader, which
    reads where it plans, not on executors.  An offset is the source's resume state
    (``opts.INITIAL_OFFSET``'s keys; ``pos`` is the byte position of the
    next unread unit) — the replayable-source contract: only safe
    re-entry points are returned, so a restart replay
    (``readBetweenOffsets``) re-reads exactly the committed span.

    ``opts.tail_batches(path, lo, hi, stop_on_partial, max_bytes)``
    returns the Arrow batches of the whole units from ``lo`` up to the
    resume offset ``hi`` (None: the last safe resume point on disk, or
    the first one ``max_bytes`` of file span past ``lo``) and the offset
    after them.  ``read`` caps a micro-batch at ``opts.trigger_budget()``
    bytes, so a backlog drains across micro-batches.

    This reader is the one ``maxBytesPerTrigger`` needs: ``read`` gets
    the batch's start offset, which a ``DataSourceStreamReader``'s
    ``latestOffset`` does not.  The executor-parallel path is
    :class:`PartitionedStreamReader`."""

    def __init__(self, opts, path: str):
        self.opts = opts
        self.path = path

    def initialOffset(self) -> dict:
        return dict(self.opts.INITIAL_OFFSET)

    def _rows(
        self, lo: dict, hi: dict | None, stop_on_partial: bool, max_bytes=None
    ) -> tuple[list[tuple], dict]:
        batches, end = self.opts.tail_batches(
            self.path, lo, hi, stop_on_partial, max_bytes
        )
        return [tuple(r.values()) for b in batches for r in b.to_pylist()], end

    def read(self, start: dict):
        # a file not created yet has nothing to admit; a replay of a
        # committed span whose file has gone raises instead
        if not os.path.exists(self.path):
            return iter(()), start
        rows, end = self._rows(
            start, None, stop_on_partial=True, max_bytes=self.opts.trigger_budget()
        )
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        # replay after restart: honor END exactly — the file may have
        # grown since the batch was planned
        if end["pos"] <= start["pos"]:
            return iter(())
        return iter(self._rows(start, end, stop_on_partial=False)[0])


class FileDataSource(DataSource):
    """The ``DataSource`` shell of the three sources: ``OPTIONS`` parses
    the options (``SOURCE`` is the format name), ``READER``/``WRITER``
    are the batch reader and part writer, the stream sink is the writer
    behind :class:`_StreamSink`.  A source adds its stream guards."""

    OPTIONS: ClassVar[type]
    READER: ClassVar[type]
    WRITER: ClassVar[type]

    @classmethod
    def name(cls) -> str:
        return cls.OPTIONS.SOURCE

    def __init__(self, options):
        super().__init__(options)
        self.opts = self.OPTIONS.parse(options)
        self.path = options.get("path")
        if not self.path:
            raise ValueError(f"{self.name()}: a path is required (.load(path))")

    def _discover_partitions(self) -> None:
        """Add the schema columns the path itself carries (none here)."""

    def schema(self) -> StructType:
        self._discover_partitions()
        return self.opts.spark_schema()

    def reader(self, schema: StructType):
        self._discover_partitions()
        check_user_schema(self.name(), schema, self.opts.spark_schema())
        return self.READER(self.opts, self.path)

    def writer(self, schema: StructType, overwrite: bool):
        return self.WRITER(self.opts, self.path, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> _StreamSink:
        return _StreamSink(self.WRITER(self.opts, self.path, overwrite=False))

    def simpleStreamReader(self, schema: StructType) -> TailStreamReader:
        return TailStreamReader(self.opts, self.path)


def register(spark, source: type[FileDataSource]) -> None:
    """Idempotent registration of ``source`` with ``spark``.  Also ships
    the package zip to Spark's Python workers — the data source class is
    cloudpickled by reference, so workers must be able to import it even
    when the driver's cwd isn't the repo root.

    Enables ``spark.sql.python.filterPushdown.enabled``: the fixedlen
    reader implements ``pushFilters`` and Spark 4.1 refuses to plan a
    pushFilters-implementing reader while that conf is false.  If you
    register a source class directly, set the conf yourself."""
    flag = f"_{source.name()}_registered"
    if getattr(spark, flag, False):
        return
    from hadoop_fixedlengthinputformat_spark.tables import _ship_package

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # _ship_package also puts the zip on the captured PYTHONPATH: the
    # streaming source runner never receives addPyFile includes on this
    # Spark build, and dataSource.register snapshots sc.environment — so
    # shipping MUST happen first for streaming to work from a cwd
    # outside the repo (see tables._ship_package).
    _ship_package(spark)
    spark.dataSource.register(source)
    setattr(spark, flag, True)
