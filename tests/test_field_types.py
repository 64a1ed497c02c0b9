"""The layout type table (layout._FIELD_TYPES): parse-time width rules,
the Arrow types derived from the Spark types, and a table-driven
hypothesis round trip — every entry encodes -> decodes bit-exactly, in
failfast and permissive mode, at every width its rule allows.

Pure pyarrow path (no SparkSession).  ``TYPES`` holds one value
strategy per table entry; ``typed_field`` is shared with
test_multitype_property.py."""

from __future__ import annotations

import datetime
import math
import string
import struct

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql.pandas.types import to_arrow_schema

from hadoop_fixedlengthinputformat_spark.sources.layout import (
    _FIELD_TYPES,
    FieldSpec,
    decode_chunk,
    encode_rows,
    layout_schema,
    parse_layout,
)


def _ints(lo_cap: int, hi_cap: int):
    """Integers whose zero-padded text fits the width ('-' takes a digit)."""
    def value(draw, f):
        lo = max(-(10 ** (f.length - 1) - 1), lo_cap)
        return draw(st.integers(lo, min(10**f.length - 1, hi_cap)))
    return value


def _decimals(digits):
    """units / 10^scale with at most ``digits(width)`` digits, capped at
    15 so that value * 10^scale rounds back to the same units."""
    def value(draw, f):
        hi = 10 ** min(digits(f.length), 15) - 1
        return draw(st.integers(-hi, hi)) / 10**f.scale
    return value


def _doubles(draw, f):
    """Text doubles: NaN and +-inf where their text fits, else decimals
    of at most width - 2 digits."""
    special = [v for v in (math.nan, math.inf, -math.inf) if len(str(v)) <= f.length]
    if special and draw(st.booleans()):
        return draw(st.sampled_from(special))
    return _decimals(lambda w: w - 2)(draw, f)


def _julian(draw, f):
    if f.length == 5:  # YYDDD: the 1970-2069 century window
        return draw(st.dates(datetime.date(1970, 1, 1), datetime.date(2069, 12, 31)))
    return draw(st.dates(datetime.date(1600, 1, 1), datetime.date(2400, 12, 31)))


def _text(draw, f):
    # printable ASCII; trailing spaces are padding, so none are drawn
    chars = string.ascii_letters + string.digits + string.punctuation + " "
    return draw(st.text(chars, max_size=f.length)).rstrip(" ")


def _bin(draw, f):
    half = 2 ** (8 * f.length - 1)
    return draw(st.integers(-half, half - 1))


# base type -> (scaled?, candidate widths for a scale, value strategy).
# Candidate widths are filtered through the entry's own width rule.
TYPES = {
    "int": (False, lambda s: range(1, 25), _ints(-(2**31), 2**31 - 1)),
    "long": (False, lambda s: range(1, 25), _ints(-(2**63), 2**63 - 1)),
    "double": (True, lambda s: range(s + 3, 19), _doubles),
    "string": (False, lambda s: range(1, 21), _text),
    "date": (False, lambda s: range(10, 13), lambda draw, f: draw(
        st.dates(datetime.date(1600, 1, 1), datetime.date(2400, 12, 31)))),
    "julian": (False, lambda s: range(1, 10), _julian),
    "implied": (True, lambda s: range(1, 25), _decimals(lambda w: w - 1)),
    "packed": (True, lambda s: range(1, 12), _decimals(lambda w: 2 * w - 1)),
    "zoned": (True, lambda s: range(1, 21), _decimals(lambda w: w)),
    "zonedl": (True, lambda s: range(1, 21), _decimals(lambda w: w)),
    "signl": (True, lambda s: range(1, 21), _decimals(lambda w: w - 1)),
    "signt": (True, lambda s: range(1, 21), _decimals(lambda w: w - 1)),
    "bin": (False, lambda s: range(1, 10), _bin),
    "comp1": (False, lambda s: range(1, 10),
              lambda draw, f: draw(st.floats(width=32, allow_nan=False))),
    "comp2": (False, lambda s: range(1, 10),
              lambda draw, f: draw(st.floats(allow_nan=False))),
}


def test_every_table_entry_has_a_value_strategy():
    assert set(TYPES) == set(_FIELD_TYPES)


@st.composite
def typed_field(draw, name: str, start: int, base: str | None = None,
                occurs: int = 1, depends_on: str | None = None):
    """(field, value strategy) for ``base`` (drawn from the table when
    None) at a width its rule allows."""
    base = base or draw(st.sampled_from(sorted(TYPES)))
    scaled, widths, value = TYPES[base]
    scale = draw(st.integers(0, 4)) if scaled else 0
    ftype = f"{base}({scale})" if scaled else base
    specs = [FieldSpec(name, start, w, ftype) for w in widths(scale)]
    allowed = [g.length for g in specs if g.kind.width(g) is None]
    f = FieldSpec(name, start, draw(st.sampled_from(allowed)), ftype, occurs, depends_on)
    return f, value


def _bits(v):
    """Values compared bit-exactly: floats by their IEEE bytes."""
    if isinstance(v, float):
        return struct.pack(">d", v)
    if isinstance(v, list):
        return [_bits(x) for x in v]
    return v


@pytest.mark.parametrize("base", sorted(TYPES))
@settings(max_examples=40, deadline=None)
@given(data=st.data())
def test_table_entry_round_trips(base, data):
    pad = data.draw(st.integers(0, 3), label="pad")
    occurs = data.draw(st.integers(1, 3), label="occurs")
    f, value = data.draw(typed_field("v", pad, base, occurs), label="field")
    rl = pad + f.span + data.draw(st.integers(0, 3), label="tail")
    encoding = data.draw(st.sampled_from(["utf-8", "cp037"]), label="encoding")
    n = data.draw(st.integers(1, 8), label="rows")
    rows = [
        {"v": [value(data.draw, f.element(i)) for i in range(occurs)]
         if occurs > 1 else value(data.draw, f)}
        for _ in range(n)
    ]
    payload = encode_rows(rows, [f], rl, encoding=encoding)
    assert len(payload) == rl * n
    want = [_bits(r["v"]) for r in rows]
    schema = pa.schema([pa.field("v", f.arrow_type())])
    failfast = decode_chunk(payload, rl, [f], 0, False, None, schema, encoding=encoding)
    assert [_bits(v) for v in failfast.column(0).to_pylist()] == want
    with_corrupt = schema.append(pa.field("_corrupt", pa.binary()))
    permissive = decode_chunk(
        payload, rl, [f], 0, False, None, with_corrupt,
        permissive=True, encoding=encoding, corrupt_column=True,
    )
    assert [_bits(v) for v in permissive.column(0).to_pylist()] == want
    assert permissive.column(1).null_count == n


@pytest.mark.parametrize("base", sorted(TYPES))
@settings(max_examples=20, deadline=None)
@given(data=st.data())
def test_odo_round_trips_in_both_modes(base, data):
    """Unused OCCURS DEPENDING ON slots hold the type's filler, which
    need not be a valid value (a blank date): only the slots the counter
    uses are decoded, in failfast as in permissive mode."""
    occurs = data.draw(st.integers(1, 3), label="occurs")
    f, value = data.draw(typed_field("v", 1, base, occurs, "c"), label="field")
    fields = [FieldSpec("c", 0, 1, "int"), f]
    rl = 1 + f.span
    rows = []
    for _ in range(data.draw(st.integers(1, 6), label="rows")):
        n = data.draw(st.integers(0, occurs))
        rows.append({"c": n, "v": [value(data.draw, f.element(i)) for i in range(n)]})
    payload = encode_rows(rows, fields, rl)
    schema = pa.schema([pa.field(g.name, g.arrow_type()) for g in fields])
    for permissive in (False, True):
        got = decode_chunk(payload, rl, fields, 0, False, None, schema, permissive=permissive)
        assert [_bits(v) for v in got.column(1).to_pylist()] == [_bits(r["v"]) for r in rows]


@pytest.mark.parametrize("ftype", ["int", "long", "implied(0)"])
def test_text_numerics_read_leading_zeros_past_18_digits(ftype):
    f = parse_layout(f"v:0:20:{ftype}", 20)
    schema = pa.schema([pa.field("v", f[0].arrow_type())])
    for permissive in (False, True):
        got = decode_chunk(b"0" * 19 + b"5", 20, f, 0, False, None, schema, permissive=permissive)
        assert got.column(0).to_pylist() == [5]


@pytest.mark.parametrize(
    "spec, record_length, match",
    [
        ("k:0:3:bin", 3, "width must be 1/2/4/8, got 3"),
        ("k:0:3:bin[2]", 6, "width must be 1/2/4/8, got 3"),
        ("k:0:10:packed(2)", 10, "19 digits exceeds int64-exact 18"),
        ("k:0:19:zoned", 19, "19 digits exceeds int64-exact 18"),
        ("k:0:19:zonedl(2)", 19, "19 digits exceeds int64-exact 18"),
        ("k:0:1:signl", 1, r"needs >= 2 bytes \(sign \+ digit\)"),
        ("k:0:20:signt", 20, "19 digits exceeds int64-exact 18"),
        ("k:0:20:signl(3)", 20, "19 digits exceeds int64-exact 18"),
        ("k:0:6:julian", 6, r"julian is 5 \(YYDDD\) or 7 \(YYYYDDD\) bytes, got 6"),
        ("k:0:8:comp1", 8, "is exactly 4 bytes, got 8"),
        ("k:0:4:comp2", 4, "is exactly 8 bytes, got 4"),
    ],
)
def test_parse_rejects_widths_the_type_cannot_hold(spec, record_length, match):
    """A layout the reader would reject fails at parse time, so the
    fixedlen sink can no longer write a file its own reader refuses."""
    with pytest.raises(ValueError, match=match):
        parse_layout(spec, record_length)


@pytest.mark.parametrize(
    "spec",
    ["k:0:1:bin", "k:0:2:bin", "k:0:4:bin", "k:0:8:bin", "k:0:9:packed(2)",
     "k:0:18:zoned", "k:0:18:zonedl", "k:0:2:signl", "k:0:19:signt",
     "k:0:5:julian", "k:0:7:julian", "k:0:4:comp1", "k:0:8:comp2"],
)
def test_parse_accepts_the_widest_and_narrowest_legal_widths(spec):
    assert len(parse_layout(spec, 20)) == 1


def test_arrow_types_derive_from_spark_types():
    fields = parse_layout("a:0:2:int[3],d:6:10:date,b:16:4:bin,j:20:7:julian", 27)
    assert to_arrow_schema(layout_schema(fields)) == pa.schema([
        pa.field("a", pa.list_(pa.int32())),
        pa.field("d", pa.date32()),
        pa.field("b", pa.int64()),
        pa.field("j", pa.date32()),
    ])
    assert [f.arrow_type() for f in fields] == [
        pa.list_(pa.int32()), pa.date32(), pa.int64(), pa.date32(),
    ]
