"""Property test: ``layout.encode_batch`` (the column encoders, falling
back to the scalar encoders on what they cannot prove) writes the same
bytes as encoding every value on its own through ``format_value``, and
raises the same error at the same first bad (row, field) in row-major
order.

The reference below is the per-value encoder the sinks used before they
took Arrow batches: one record at a time, fields in layout order, each
value through its type's scalar encoder.  Values come from the
strategies of test_field_types.py plus NULLs, overflows, rounding ties
and text the charset cannot hold; every batch is encoded both with
Arrow's inferred types and, where the values allow, with the field's own
Arrow type."""

from __future__ import annotations

import datetime
import math

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from test_field_types import TYPES, typed_field

from hadoop_fixedlengthinputformat_spark.sources.layout import (
    FieldSpec,
    encode_batch,
    encode_rows,
    format_value,
    parse_layout,
)


def _reference(rows: list[dict], fields: list[FieldSpec], rl: int, encoding: str) -> bytes:
    """Encode each value of each row on its own, fields in layout order."""

    def scalar(v, f):
        b = format_value(v, f)
        if isinstance(b, str):
            b = b.encode(encoding)
        if len(b) != f.length:
            raise ValueError(
                f"encoded field {f.name} is {len(b)} bytes, expected "
                f"{f.length} (non-ASCII content in a string field?)"
            )
        return b

    out = bytearray()
    for row in rows:
        rec = bytearray(" ".encode(encoding) * rl)
        for f in fields:
            v = row[f.name]
            if f.is_array:
                if f.depends_on is not None:
                    if v is None or len(v) > f.occurs:
                        raise ValueError(
                            f"OCCURS DEPENDING ON field {f.name} takes at "
                            f"most {f.occurs} elements, got {v!r}"
                        )
                    v = list(v) + [f.kind.filler] * (f.occurs - len(v))
                elif v is None or len(v) != f.occurs:
                    raise ValueError(
                        f"OCCURS field {f.name} needs exactly {f.occurs} "
                        f"elements, got {v!r}"
                    )
                b = b"".join(scalar(x, f.element(i)) for i, x in enumerate(v))
            else:
                b = scalar(v, f)
            rec[f.start : f.start + f.span] = b
        out += rec
    return bytes(out)


def _outcome(fn):
    try:
        return "ok", fn()
    except Exception as e:  # the exception itself is the outcome compared
        return type(e).__name__, str(e)


def _batches(rows: list[dict], fields: list[FieldSpec]) -> list[pa.RecordBatch]:
    """The rows with Arrow's inferred types, and with each field's own
    Arrow type when every value converts to it."""
    out = [pa.RecordBatch.from_pylist(rows)]
    try:
        schema = pa.schema([pa.field(f.name, f.arrow_type()) for f in fields])
        out.append(pa.RecordBatch.from_pylist(rows, schema=schema))
    except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError, TypeError):
        pass
    return out


def _check(rows, fields, rl, encoding):
    for batch in _batches(rows, fields):
        want = _outcome(lambda: _reference(batch.to_pylist(), fields, rl, encoding))
        got = _outcome(lambda: encode_batch(batch, fields, rl, encoding).tobytes())
        assert got == want, (batch.schema, rows)


def _nasty(base: str, f: FieldSpec):
    """Values the column encoders must leave to the scalar encoder."""
    big = min(10 ** (f.length + 1), 2**63 - 1)  # Arrow holds int64 at most
    if base in ("int", "long", "bin"):
        return st.sampled_from([big, -big, 2**31, -(2**31) - 1, 2**63 - 1, -(2**63)])
    if base == "string":
        return st.sampled_from(["x" * (f.length + 1), "é", "€uro", "ÿ" * f.length])
    if base in ("date", "julian"):
        return st.sampled_from([
            datetime.date(999, 12, 31), datetime.date(1969, 12, 31),
            datetime.date(2070, 1, 1), datetime.date(1, 1, 1),
        ])
    # ties, halves, overflows and non-finite values for the scaled types
    return st.sampled_from([
        0.125, 2.675, 1.005, 0.5, -0.5, 2.5, -0.0, -0.001, 1e300,
        float(big), math.nan, math.inf, -math.inf, 3.4028236e38, 2.0**52,
    ])


@pytest.mark.parametrize("base", sorted(TYPES))
@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_encode_batch_matches_the_scalar_encoder(base, data):
    pad = data.draw(st.integers(0, 2), label="pad")
    occurs = data.draw(st.integers(1, 3), label="occurs")
    odo = occurs > 1 and data.draw(st.booleans(), label="odo")
    f, value_of = data.draw(
        typed_field("v", pad + 2, base, occurs, "c" if odo else None), label="field"
    )
    fields = [FieldSpec("c", 0, 2, "int"), f]
    rl = pad + 2 + f.span + data.draw(st.integers(0, 2), label="tail")
    encoding = data.draw(st.sampled_from(["utf-8", "cp037"]), label="encoding")
    clean = data.draw(st.booleans(), label="clean")
    el = f.element(0)
    values = st.composite(lambda draw: value_of(draw, el))()
    if not clean:
        values = st.one_of(values, values, st.none(), _nasty(base, el))
    rows = []
    for _ in range(data.draw(st.integers(0, 6), label="rows")):
        if f.is_array:
            n = data.draw(st.integers(0, occurs) if odo else st.just(occurs))
            if not clean and data.draw(st.integers(0, 9)) == 0:
                n = occurs + 1
            v = [data.draw(values) for _ in range(n)]
            if not clean and data.draw(st.integers(0, 9)) == 0:
                v = None
        else:
            n, v = 0, data.draw(values)
        rows.append({"c": n, "v": v})
    if rows:
        _check(rows, fields, rl, encoding)


def test_first_bad_value_is_row_major():
    """Row 0's second field does not fit and row 1's first field is
    NULL: column order would raise the NULL, row-major order (the order
    the sink writes records in) the overflow."""
    fields = parse_layout("a:0:3:int,b:3:3:int", 6)
    rows = [{"a": 1, "b": 12345}, {"a": None, "b": 2}]
    for batch in _batches(rows, fields):
        with pytest.raises(ValueError, match="12345 does not fit field b"):
            encode_batch(batch, fields, 6)
    with pytest.raises(ValueError, match="12345 does not fit field b"):
        encode_rows(rows, fields, 6)


@pytest.mark.parametrize("encoding", ["utf-8", "cp037"])
def test_every_type_in_one_batch(encoding):
    """All 15 types side by side, with OCCURS and ODO fields, in their
    own Arrow types: byte-identical to the per-value encoder."""
    layout = (
        "i:0:4:int,l:4:8:long,d:12:9:double(3),s:21:6:string,dt:27:10:date,"
        "j5:37:5:julian,j7:42:7:julian,im:49:6:implied(2),p:55:4:packed(2),"
        "z:59:5:zoned(1),zl:64:5:zonedl(1),sl:69:5:signl(2),st:74:5:signt(2),"
        "b:79:2:bin,c1:81:4:comp1,c2:85:8:comp2,n:93:1:int,"
        "oc:94:3:int[2],od:100:4:string[3->n]"
    )
    fields = parse_layout(layout, 112)
    rows = [
        {"i": i - 3, "l": (i - 3) * 10**6, "d": i * 1.37 - 4, "s": f"s{i}" * (i % 3),
         "dt": datetime.date(1999 + i, 1 + i, 2 * i + 1),
         "j5": datetime.date(1970 + 19 * i, 3, 1), "j7": datetime.date(1600 + 100 * i, 12, 31),
         "im": i * 0.25 - 1, "p": -12.5 + i, "z": i / 10, "zl": -i / 10, "sl": i * 1.01,
         "st": -i * 1.01, "b": 300 * i - 900, "c1": i / 3, "c2": -i / 7, "n": i % 4,
         "oc": [i, -i], "od": [f"e{k}" for k in range(i % 4)]}
        for i in range(6)
    ]
    batches = _batches(rows, fields)
    assert len(batches) == 2
    for batch in batches:
        want = _reference(batch.to_pylist(), fields, 112, encoding)
        assert encode_batch(batch, fields, 112, encoding).tobytes() == want


def test_foreign_arrow_types_see_the_row_values():
    """A column whose Arrow type is not the field's (a string or a
    timestamp into a date field, a double into a long field) is encoded
    from the values a row writer receives."""
    fields = parse_layout("d:0:10:date,t:10:10:date,l:20:4:long", 24)
    batch = pa.RecordBatch.from_pydict({
        "d": pa.array(["2021-03-04", "1999-12-31"]),
        "t": pa.array([datetime.datetime(2020, 1, 2, 3), datetime.datetime(1980, 5, 6)],
                      pa.timestamp("us")),
        "l": pa.array([3.7, -2.0]),
    })
    assert encode_batch(batch, fields, 24).tobytes() == (
        b"2021-03-042020-01-020003" b"1999-12-311980-05-06-002"
    )
