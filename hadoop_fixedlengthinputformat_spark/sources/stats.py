"""Pushed-predicate semantics and min/max stats sidecars for fixed-width
part files.

This module owns what each pushed filter kind means.  ``PREDICATES``
holds one entry per supported ``pyspark.sql.datasource`` filter class:
its Arrow row mask and its interval test.  Everything else reads it:
``FixedLengthReader.pushFilters`` pushes exactly its kinds, ``apply``
ANDs the row masks, and the four planning-time prunes ask the interval
test — hive directory values as points, stats blocks as ranges, and
``record_offset`` and the declared sort field through
``allowed_range``.  Every test compares in Spark's order
(``order_key``): NaN is greater than every number and equal to
itself, as in the row masks, so a prune can never drop a row the row
mask keeps.

Sidecars: parquet can skip row groups because the footer carries
per-column min/max; a raw fixed-width file has no such thing.  The
writer's OPTIONAL sidecar (``<part>.stats.json``) closes that gap: per
block of ``STATS_BLOCK_RECORDS`` records, the min/max of every scalar
layout field.  ``FixedLengthReader.partitions()`` maps each byte-range
partition to its record range and DROPS it when no overlapping block
can satisfy the pushed predicates, so those bytes are never read.

Everything is CONSERVATIVE: unknown fields, missing sidecars, array
(OCCURS) fields, incomparable values and undecidable shapes all answer
"may match".  The row mask still runs afterwards, so results are
identical with or without any prune.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import os
from dataclasses import dataclass
from typing import Any, Callable, NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)

from hadoop_fixedlengthinputformat_spark.sources.layout import FieldSpec, row_values

STATS_BLOCK_RECORDS = 8192
_SUFFIX = ".stats.json"
# 2: string min/max are stored rtrimmed, as the values read back; a v1
# sidecar (min/max with trailing blanks) could prune a matching block,
# so it is ignored and its file read unpruned
_VERSION = 2


def scalar_fields(fields: list[FieldSpec] | None) -> dict[str, FieldSpec]:
    """The layout fields that hold one value per row, by name: the only
    ones a pushed filter, a sort claim or a stats block can speak of (an
    OCCURS field is an array even at count 1)."""
    return {f.name: f for f in fields or [] if not f.is_array}


# ---------------------------------------------------------------------------
# Spark's value order


def order_key(v: Any) -> tuple:
    """Sort key of ``v`` in Spark's order: NaN is greater than every
    number and equal to itself, and a datetime compares with dates as
    Spark and Arrow compare them (a date is its midnight).  Comparing
    the keys of incomparable values (NaN with a string, too) raises
    TypeError."""
    if isinstance(v, float) and math.isnan(v):
        return (math.inf, 1)
    if isinstance(v, _dt.datetime):
        d, t = v.date(), v.time()
        return (d, 0) if t == _dt.time() else (d, 1, t)
    return (v, 0)


class Interval(NamedTuple):
    """An interval of order keys; a None end is unbounded and a strict
    end excludes its own key."""

    lo: tuple | None = None
    lo_strict: bool = False
    hi: tuple | None = None
    hi_strict: bool = False

    def meets(self, a: tuple, b: tuple) -> bool:
        """Does it share a key with the closed key interval [a, b]?"""
        return (self.lo is None or (b > self.lo if self.lo_strict else b >= self.lo)) and (
            self.hi is None or (a < self.hi if self.hi_strict else a <= self.hi)
        )

    def __and__(self, other: "Interval") -> "Interval":
        lo = self if other.lo is None or (
            self.lo is not None and (self.lo, self.lo_strict) > (other.lo, other.lo_strict)
        ) else other
        hi = self if other.hi is None or (
            self.hi is not None and (self.hi, not self.hi_strict) < (other.hi, not other.hi_strict)
        ) else other
        return Interval(lo.lo, lo.lo_strict, hi.hi, hi.hi_strict)


# ---------------------------------------------------------------------------
# The predicate table


def _nan_on_float(col: pa.Array, v: Any) -> bool:
    return pa.types.is_floating(col.type) and isinstance(v, float) and math.isnan(v)


def _or_nan(col: pa.Array, m: pa.Array) -> pa.Array:
    """``m`` or the row is NaN (NaN exceeds every value)."""
    return pc.or_kleene(m, pc.is_nan(col)) if pa.types.is_floating(col.type) else m


def _in_mask(col: pa.Array, values: list) -> pa.Array:
    # SQL IN: NULL never matches (x IN (... NULL) is NULL -> dropped by
    # WHERE); pc.is_in alone would match null-to-null
    vals = [v for v in values if v is not None]
    nan_sought = any(_nan_on_float(col, v) for v in vals)
    vals = [v for v in vals if not (isinstance(v, float) and math.isnan(v))]
    m = pc.and_kleene(pc.is_in(col, value_set=pa.array(vals, col.type)), pc.is_valid(col))
    return pc.or_kleene(m, pc.is_nan(col)) if nan_sought else m  # NaN IN (NaN) is true


def _at(k: tuple) -> Interval:
    return Interval(k, False, k, False)


def _point_only(test: Callable[[str, str], bool]):
    """String predicates decide a single value only (a range of strings
    can hold any suffix or substring)."""
    return lambda lo, hi, v: lo != hi or test(lo, v)


@dataclass(frozen=True)
class Predicate:
    """What one pushed filter kind means."""

    # (column, filter value) -> boolean row mask.  Spark never re-checks
    # a pushed filter, so the mask keeps Spark's semantics where Arrow's
    # IEEE compares differ: NaN is greater than every value and NaN = NaN
    # is true.  A null entry drops the row (SQL WHERE).
    mask: Callable[[pa.Array, Any], pa.Array]
    # filter value's key -> the Interval a range kind allows, else None
    interval: Callable[[tuple], Interval] | None = None
    # (lo, hi, filter value) -> may a value in [lo, hi] satisfy it;
    # defaults to the interval's test
    test: Callable[[Any, Any, Any], bool] | None = None
    nulls_match: bool = False  # does a NULL satisfy it (IsNull)


PREDICATES: dict[type, Predicate] = {
    EqualTo: Predicate(
        # NaN = NaN is true in Spark
        lambda c, v: pc.is_nan(c) if _nan_on_float(c, v) else pc.equal(c, v),
        _at,
    ),
    GreaterThan: Predicate(
        # nothing exceeds NaN; a null row stays null (dropped)
        lambda c, v: pc.less(c, float("-inf")) if _nan_on_float(c, v)
        else _or_nan(c, pc.greater(c, v)),
        lambda k: Interval(lo=k, lo_strict=True),
    ),
    GreaterThanOrEqual: Predicate(
        lambda c, v: pc.is_nan(c) if _nan_on_float(c, v)  # only NaN >= NaN
        else _or_nan(c, pc.greater_equal(c, v)),
        lambda k: Interval(lo=k),
    ),
    LessThan: Predicate(
        # every number < NaN; a NaN row fails pc.less, as in Spark
        lambda c, v: pc.invert(pc.is_nan(c)) if _nan_on_float(c, v) else pc.less(c, v),
        lambda k: Interval(hi=k, hi_strict=True),
    ),
    LessThanOrEqual: Predicate(
        # every non-null value <= NaN
        lambda c, v: pc.is_valid(c) if _nan_on_float(c, v) else pc.less_equal(c, v),
        lambda k: Interval(hi=k),
    ),
    In: Predicate(
        _in_mask,
        test=lambda lo, hi, vals: any(
            _at(order_key(v)).meets(order_key(lo), order_key(hi)) for v in vals if v is not None
        ),
    ),
    IsNull: Predicate(lambda c, v: pc.is_null(c), test=lambda lo, hi, v: False, nulls_match=True),
    IsNotNull: Predicate(lambda c, v: pc.is_valid(c), test=lambda lo, hi, v: True),
    StringStartsWith: Predicate(
        lambda c, v: pc.starts_with(c, v), test=_point_only(str.startswith)
    ),
    StringEndsWith: Predicate(lambda c, v: pc.ends_with(c, v), test=_point_only(str.endswith)),
    StringContains: Predicate(
        lambda c, v: pc.match_substring(c, v), test=_point_only(lambda s, v: v in s)
    ),
}


def column_of(flt) -> str | None:
    """The one top-level column a table kind filters, else None."""
    if type(flt) in PREDICATES and len(flt.attribute) == 1:
        return flt.attribute[0]
    return None


def may_match(flt, lo: Any, hi: Any, nulls: bool = False) -> bool:
    """May some value in [lo, hi] (a point when ``lo == hi``), or a NULL
    when ``nulls``, satisfy ``flt``?  True for incomparable values."""
    p = PREDICATES[type(flt)]
    if nulls and p.nulls_match:
        return True
    v = getattr(flt, "value", None)
    try:
        if p.test is not None:
            return p.test(lo, hi, v)
        return p.interval(order_key(v)).meets(order_key(lo), order_key(hi))
    except (TypeError, AttributeError):
        return True


def apply(filters: list, batch: pa.RecordBatch) -> pa.RecordBatch:
    """The rows of ``batch`` that satisfy every filter."""
    if not filters:
        return batch
    mask = None
    for flt in filters:
        m = PREDICATES[type(flt)].mask(batch.column(flt.attribute[0]), getattr(flt, "value", None))
        mask = m if mask is None else pc.and_kleene(mask, m)
    return batch.filter(mask)


def allowed_range(filters: list, column: str) -> Interval | None:
    """The key Interval the range filters on ``column`` allow together,
    or None when none bounds it or their values are incomparable."""
    rng = None
    try:
        for flt in filters:
            interval = PREDICATES[type(flt)].interval if column_of(flt) == column else None
            if interval is not None and flt.value is not None:
                bound = interval(order_key(flt.value))
                rng = bound if rng is None else rng & bound
    except TypeError:
        return None
    return rng


def range_may_match(rng: Interval | None, lo: Any, hi: Any) -> bool:
    """May a value in [lo, hi] fall in ``rng`` (None: unbounded)?"""
    try:
        return rng is None or rng.meets(order_key(lo), order_key(hi))
    except TypeError:
        return True


# ---------------------------------------------------------------------------
# Stats sidecars


def sidecar_path(part_path: str) -> str:
    return part_path + _SUFFIX


def is_sidecar(path: str) -> bool:
    return path.endswith(_SUFFIX)


def _ser(v: Any) -> Any:
    if isinstance(v, (_dt.date, _dt.datetime)):
        return v.isoformat()
    return v


def _bounds(col: pa.Array) -> tuple[Any, Any, bool]:
    """``(min, max, has NaN)`` of one block's slice of a column, as the
    values read back: strings rtrimmed, NaN flagged and left out, NULLs
    ignored.  Of equal values (0.0 and -0.0) the first in row order is
    kept, as a running comparison keeps it.  A column of another Arrow
    type is taken through the values a row writer receives."""
    t = col.type
    if not (
        pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_date32(t)
        or pa.types.is_string(t) or pa.types.is_large_string(t)
    ):
        col = pa.array(row_values(col))
        t = col.type
    nan = False
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        col = pc.utf8_rtrim(col, characters=" ")
    elif pa.types.is_floating(t) and col.null_count < len(col):
        is_nan = pc.is_nan(col)
        nan = bool(pc.any(is_nan).as_py())
        if nan:
            col = col.filter(pc.invert(is_nan))
    mm = pc.min_max(col)
    lo, hi = mm["min"].as_py(), mm["max"].as_py()
    if pa.types.is_floating(t) and 0 in (lo, hi):
        first = col.filter(pc.equal(col, 0.0))[0].as_py()
        lo, hi = (first if v == 0 else v for v in (lo, hi))
    return lo, hi, nan


class StatsCollector:
    """Per-block min/max for the scalar layout fields of the batches a
    writer encodes (values in hand anyway — zero extra IO).  A block of
    ``block_records`` records takes its bounds from ``pc.min_max`` over
    its slice of each batch; a block that spans batches merges them in
    row order."""

    def __init__(self, fields: list[FieldSpec], block_records: int = STATS_BLOCK_RECORDS):
        self.fields = list(scalar_fields(fields).values())
        self.block_records = block_records
        self.blocks: list[dict] = []
        self._cur: dict[str, list] | None = None
        self._cur_n = 0
        self._rows: list[dict] = []  # given one at a time to ``update``

    def _close_block(self) -> None:
        if self._cur is None or self._cur_n == 0:
            return
        self.blocks.append(
            {
                "n": self._cur_n,
                "cols": {
                    name: {"min": _ser(lo), "max": _ser(hi), "nan": nan}
                    for name, (lo, hi, nan) in self._cur.items()
                },
            }
        )
        self._cur = None

    def add(self, batch: pa.RecordBatch) -> None:
        """Account the rows of ``batch``, after every earlier row."""
        self._add_rows()
        pos = 0
        while pos < batch.num_rows:
            if self._cur is None:
                self._cur = {f.name: [None, None, False] for f in self.fields}
                self._cur_n = 0
            take = min(self.block_records - self._cur_n, batch.num_rows - pos)
            for f in self.fields:
                lo, hi, nan = _bounds(batch.column(f.name).slice(pos, take))
                slot = self._cur[f.name]
                slot[2] = slot[2] or nan
                if lo is not None:
                    if slot[0] is None or lo < slot[0]:
                        slot[0] = lo
                    if slot[1] is None or hi > slot[1]:
                        slot[1] = hi
            self._cur_n += take
            pos += take
            if self._cur_n >= self.block_records:
                self._close_block()

    def update(self, row: dict) -> None:
        """Account one row, a dict by field name (rows are batched)."""
        self._rows.append(row)

    def _add_rows(self) -> None:
        if self._rows:
            rows, self._rows = self._rows, []
            self.add(pa.RecordBatch.from_pylist(rows))

    def payload(self) -> dict:
        self._add_rows()
        self._close_block()
        return {
            "version": _VERSION,
            "block_records": self.block_records,
            "blocks": self.blocks,
        }


def write_sidecar(path: str, payload: dict) -> None:
    with open(path, "w") as f:
        json.dump(payload, f)


def load_sidecar(part_path: str) -> dict | None:
    p = sidecar_path(part_path)
    if not os.path.exists(p):
        return None
    try:
        with open(p) as f:
            payload = json.load(f)
        if payload.get("version") != _VERSION:
            return None
        return payload
    except (OSError, ValueError):
        return None


def _block_range(col: dict, f: FieldSpec) -> tuple[Any, Any] | None:
    """A block's [min, max] for field ``f`` in Spark's order (a NaN is
    its maximum), or None when the sidecar gives none."""
    lo, hi = col.get("min"), col.get("max")
    if f.base_type == "date":
        lo, hi = (_dt.date.fromisoformat(v) if isinstance(v, str) else v for v in (lo, hi))
    if col.get("nan"):
        hi = math.nan
        lo = hi if lo is None else lo
    return None if lo is None or hi is None else (lo, hi)


def partition_may_match(
    payload: dict,
    record_length: int,
    start: int,
    end: int,
    filters: list,
    fields_by_name: dict[str, FieldSpec],
    skip_records: int = 0,
) -> bool:
    """May the byte-range partition [start, end) contain a row matching
    ALL pushed filters?  True unless every overlapping stats block is
    proven to exclude some filter.

    ``skip_records``: sidecar blocks count DATA records only, but byte
    offsets include any skipHeaderRecords banner bytes — shift the file
    ordinals back by the header count so the right blocks are tested
    (otherwise a matching partition could be wrongly pruned, breaking
    the conservative contract)."""
    blocks = payload.get("blocks") or []
    if not blocks:
        return True
    rec_lo = max(0, start // record_length - skip_records)
    rec_hi = (end + record_length - 1) // record_length - skip_records
    if rec_hi <= rec_lo:
        return True  # header-only range: no stats evidence, keep it
    testable = [
        (flt, fields_by_name[column_of(flt)])
        for flt in filters
        if column_of(flt) in fields_by_name
    ]
    if not testable:
        return True
    pos = 0
    overlapped = False
    for blk in blocks:
        blk_lo, blk_hi = pos, pos + blk["n"]
        pos = blk_hi
        if blk_hi <= rec_lo or blk_lo >= rec_hi:
            continue
        overlapped = True
        cols = blk.get("cols", {})
        if all(
            (rng := _block_range(cols.get(f.name, {}), f)) is None
            # min/max say nothing of NULL rows
            or may_match(flt, *rng, nulls=True)
            for flt, f in testable
        ):
            return True
    if not overlapped:
        # records beyond the sidecar's coverage (foreign/truncated stats
        # file): no evidence either way — keep the partition
        return True
    # every overlapping block excludes at least one filter
    return False
