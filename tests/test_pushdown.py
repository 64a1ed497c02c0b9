"""Filter pushdown, in process (no SparkSession): the planning-time
prunes (stats sidecar blocks, sorted bisect, record offsets) never drop
a row the row mask keeps, and only scalar layout fields take pushed
filters, sort claims or stats."""

from __future__ import annotations

import datetime
import math
import os
import tempfile

import pytest
from hypothesis import given, settings, strategies as st
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

from hadoop_fixedlengthinputformat_spark.sources import fixedlen, stats
from hadoop_fixedlengthinputformat_spark.sources.layout import encode_rows, parse_layout

NAN = float("nan")


def _reader(path: str, rl: int, layout: str, **opts):
    src = fixedlen.FixedLengthDataSource(
        {"path": path, "recordlength": str(rl), "layout": layout, **opts}
    )
    return src.reader(src.schema())


def _ids(reader, parts) -> list[int]:
    return [r for p in parts for b in reader.read(p) for r in b.column("r").to_pylist()]


def _pruned_and_masked(path, rl, layout, filters, **opts):
    """Row ids read through pushFilters -> partitions -> read, and the
    row mask applied to every partition of an unpruned plan."""
    pushed = _reader(path, rl, layout, **opts)
    assert list(pushed.pushFilters(filters)) == []
    unpruned = _reader(path, rl, layout, **opts).partitions()
    return _ids(pushed, pushed.partitions()), _ids(pushed, unpruned)


# column type -> (layout type, width, value strategy); values are drawn
# from a narrow domain so that filters hit, miss and tie
FLOATS = st.one_of(st.integers(-40, 40).map(lambda i: i / 4), st.just(NAN))
COLUMNS = {
    "int": ("int", 6, st.integers(-40, 40)),
    "double": ("double(2)", 8, FLOATS),  # text, NaN written as "nan"
    "comp2": ("comp2", 8, FLOATS),
    "string": ("string", 4, st.text("ab ", max_size=4)),
    "date": ("date", 10, st.dates(datetime.date(2020, 1, 1), datetime.date(2020, 3, 1))),
}
RANGE_KINDS = (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
STRING_KINDS = (StringStartsWith, StringEndsWith, StringContains)


def _spark_order(v):
    """Sort key of a decoded value: NaN last; strings read back rtrimmed."""
    if isinstance(v, float) and math.isnan(v):
        return (1,)
    return (0, v.rstrip(" ") if isinstance(v, str) else v)


@st.composite
def _filter(draw, column: str, values, with_offset: int | None):
    if with_offset is not None and draw(st.booleans()):
        kind = draw(st.sampled_from(RANGE_KINDS))
        return kind(("record_offset",), draw(st.integers(-1, with_offset)))
    kinds = RANGE_KINDS + (In, IsNull, IsNotNull)
    if column == "string":
        kinds += STRING_KINDS
    kind = draw(st.sampled_from(kinds))
    if kind in (IsNull, IsNotNull):
        return kind(("x",))
    if kind is In:
        vals = draw(st.lists(st.one_of(values, st.none()), min_size=1, max_size=3))
        return In(("x",), vals)
    if kind in STRING_KINDS:
        return kind(("x",), draw(st.text("ab", min_size=1, max_size=2)))
    v = draw(values)
    return kind(("x",), v.rstrip(" ") if isinstance(v, str) else v)


@st.composite
def scans(draw):
    column = draw(st.sampled_from(sorted(COLUMNS)))
    ftype, width, values = COLUMNS[column]
    rl = 4 + width
    xs = sorted(draw(st.lists(values, max_size=40)), key=_spark_order)
    rows = [{"r": i, "x": x} for i, x in enumerate(xs)]
    header = draw(st.integers(0, 2))
    opts = {
        "maxpartitionbytes": str(rl * draw(st.integers(1, 12))),
        "skipheaderrecords": str(header),
        "includeoffset": str(draw(st.booleans())).lower(),
        "mode": "failfast",
    }
    if draw(st.booleans()):
        opts["sortedby"] = "x"
    size = (header + len(rows)) * rl
    offset = size if opts["includeoffset"] == "true" else None
    if xs:  # mostly values the column holds, so that filters hit
        values = st.one_of(st.sampled_from(xs), values)
    filters = draw(st.lists(_filter(column, values, offset), min_size=1, max_size=3))
    block = draw(st.integers(1, 8)) if draw(st.booleans()) else None
    return column, ftype, width, rows, header, block, opts, filters


@settings(max_examples=500, deadline=None)
@given(scans())
def test_pruning_never_drops_a_matching_row(scan):
    column, ftype, width, rows, header, block, opts, filters = scan
    rl = 4 + width
    layout = f"r:0:4:int,x:4:{width}:{ftype}"
    fields = parse_layout(layout, rl)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "part-00000.fixed")
        with open(path, "wb") as f:
            # header records do not decode: reading one fails the test
            f.write(b"#" * (rl * header) + encode_rows(rows, fields, rl))
        if block is not None:
            coll = stats.StatsCollector(fields, block)
            for row in rows:
                coll.update(row)
            stats.write_sidecar(stats.sidecar_path(path), coll.payload())
        got, want = _pruned_and_masked(d, rl, layout, filters, **opts)
    assert got == want, (column, rows, filters)


@pytest.mark.parametrize(
    "flt, want",
    [(GreaterThanOrEqual(("x",), 2.5), [2, 3, 4, 5, 6, 7]), (EqualTo(("x",), NAN), [4, 5, 6, 7])],
    ids=["ge", "eq_nan"],
)
@pytest.mark.parametrize("sorted_by", [{}, {"sortedby": "x"}], ids=["unsorted", "sortedBy"])
def test_sorted_bisect_orders_nan_last(tmp_path, flt, want, sorted_by):
    """A comp2 column [1, 2, 3, 4, NaN x 4] is sorted in Spark's order:
    the bisect must keep the NaN rows where the row mask keeps them."""
    layout = "r:0:4:int,x:4:8:comp2"
    fields = parse_layout(layout, 12)
    xs = [1.0, 2.0, 3.0, 4.0, NAN, NAN, NAN, NAN]
    (tmp_path / "s.fixed").write_bytes(
        encode_rows([{"r": i, "x": x} for i, x in enumerate(xs)], fields, 12)
    )
    got, masked = _pruned_and_masked(
        str(tmp_path), 12, layout, [flt], maxpartitionbytes="12", **sorted_by
    )
    assert got == masked == want


# An OCCURS DEPENDING ON field with maximum count 1 is an array column.
ODO1 = "c:0:1:int,v:1:1:int[1->c]"


def test_odo_of_one_is_not_a_sort_field():
    with pytest.raises(ValueError, match="sortedBy"):
        fixedlen._Options.parse({"recordlength": "2", "layout": ODO1, "sortedby": "v"})


def test_odo_of_one_takes_no_pushed_filter(tmp_path):
    (tmp_path / "o.fixed").write_bytes(
        encode_rows([{"c": 1, "v": [4]}, {"c": 0, "v": []}], parse_layout(ODO1, 2), 2)
    )
    flt = EqualTo(("v",), [4])
    reader = _reader(str(tmp_path), 2, ODO1, includeoffset="false")
    assert list(reader.pushFilters([flt])) == [flt]
    rows = [r for p in reader.partitions() for b in reader.read(p) for r in b.to_pylist()]
    assert rows == [{"c": 1, "v": [4]}, {"c": 0, "v": []}]


def test_odo_of_one_has_no_stats():
    coll = stats.StatsCollector(parse_layout(ODO1, 2))
    coll.update({"c": 1, "v": [4]})
    (block,) = coll.payload()["blocks"]
    assert set(block["cols"]) == {"c"}


def test_stats_hold_strings_as_they_read_back(tmp_path):
    """A string written with trailing blanks reads back rtrimmed, so its
    stats block must not rule out the rtrimmed value."""
    layout = "r:0:4:int,x:4:4:string"
    fields = parse_layout(layout, 8)
    rows = [{"r": 0, "x": "a "}, {"r": 1, "x": "b"}]
    path = tmp_path / "part-00000.fixed"
    path.write_bytes(encode_rows(rows, fields, 8))
    coll = stats.StatsCollector(fields, 1)
    for row in rows:
        coll.update(row)
    stats.write_sidecar(stats.sidecar_path(str(path)), coll.payload())
    got, masked = _pruned_and_masked(
        str(tmp_path), 8, layout, [EqualTo(("x",), "a")], maxpartitionbytes="8"
    )
    assert got == masked == [0]


def test_version_1_sidecar_is_ignored(tmp_path):
    """A version-1 sidecar stored string bounds with their trailing
    blanks ('a '), which would prune the block holding 'a ' for x = 'a';
    it is ignored, so the file reads unpruned."""
    layout = "r:0:4:int,x:4:4:string"
    fields = parse_layout(layout, 8)
    rows = [{"r": 0, "x": "a "}, {"r": 1, "x": "b"}]
    path = tmp_path / "part-00000.fixed"
    path.write_bytes(encode_rows(rows, fields, 8))
    blocks = [
        {"n": 1, "cols": {
            "r": {"min": r["r"], "max": r["r"], "nan": False},
            "x": {"min": r["x"], "max": r["x"], "nan": False},
        }}
        for r in rows
    ]
    stats.write_sidecar(
        stats.sidecar_path(str(path)),
        {"version": 1, "block_records": 1, "blocks": blocks},
    )
    assert stats.load_sidecar(str(path)) is None
    got, masked = _pruned_and_masked(
        str(tmp_path), 8, layout, [EqualTo(("x",), "a")], maxpartitionbytes="8"
    )
    assert got == masked == [0]
