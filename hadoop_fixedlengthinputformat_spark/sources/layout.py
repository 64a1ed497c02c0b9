"""Fixed-width field layout: parse / decode / encode.

The reference has no field decoding at all — its one "type" is
byte[recordLength] and the only projection is the key byte-slice
(FixedLengthRecordReader.java:252-254); field interpretation is the
consumer's job (FixedLengthInputFormat.java:38-43).  The engine makes
that consumer job declarative: a layout string

    "name:start:length:type[,name:start:length:type...]"

(zero-based byte starts, FIXTURES.md §C) maps the record to typed
columns.  Decode is vectorized: numpy byte-matrix slicing + Arrow casts —
the moral equivalent of the reference's zero-alloc buffer reuse
(FixedLengthRecordReader.java:199-206) for a columnar engine.

Every layout type is one row of ``_FIELD_TYPES``: its Spark type (the
Arrow type derives from it), width rule, raw-or-transcoded matrix,
decoder, encoder, permissive-mode pattern and blank filler.  Parsing,
schemas, decode and encode all dispatch through that table, so a new
type is one new row.

COBOL-isms supported: OCCURS via ``type[n]`` (n consecutive slots ->
array column) and REDEFINES implicitly — fields may OVERLAP byte
ranges (each decodes its own view of the shared bytes; records are
random-access so overlap costs nothing and is deliberately allowed by
validation — test_redefines_overlapping_fields asserts it).
"""

from __future__ import annotations

import codecs
import datetime
import math
import re
import struct
from dataclasses import dataclass
from functools import lru_cache, partial
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


@dataclass(frozen=True)
class FieldSpec:
    name: str
    start: int  # zero-based byte offset in the record
    length: int  # bytes per ELEMENT (= field width when occurs == 1)
    ftype: str  # a _FIELD_TYPES key, or "double(scale)" for encode formatting
    occurs: int = 1  # COBOL OCCURS n: n consecutive elements -> array column
    depends_on: str | None = None  # OCCURS DEPENDING ON: per-row valid
    # element count comes from this earlier int/long field; `occurs`
    # is the maximum (the fixed record always reserves all slots)

    @property
    def base_type(self) -> str:
        return self.ftype.split("(")[0]

    @property
    def kind(self) -> "_FieldType":
        """This field's row of the type table."""
        return _FIELD_TYPES[self.base_type]

    @property
    def scale(self) -> int:
        if "(" in self.ftype:
            return int(self.ftype.split("(")[1].rstrip(")"))
        return 2

    @property
    def span(self) -> int:
        """Total bytes the field occupies in the record."""
        return self.length * self.occurs

    @property
    def is_array(self) -> bool:
        """Array column?  True for OCCURS n>1 AND for any DEPENDING ON
        field — an ODO with max count 1 is still an array (0..1
        elements), not a scalar."""
        return self.occurs > 1 or self.depends_on is not None

    def element(self, i: int) -> "FieldSpec":
        """The i-th OCCURS slot as a scalar field spec."""
        return FieldSpec(self.name, self.start + i * self.length, self.length, self.ftype)

    def spark_type(self) -> DataType:
        if self.is_array:
            return ArrayType(self.kind.spark, True)
        return self.kind.spark

    def arrow_type(self) -> pa.DataType:
        return to_arrow_type(self.spark_type())


def _check_width(f: FieldSpec) -> None:
    err = f.kind.width(f)
    if err is not None:
        raise ValueError(err)


def parse_layout(spec: str, record_length: int) -> list[FieldSpec]:
    """Parse and validate a layout string against the record bounds
    (engine-side analog of FixedLengthInputFormat.java:344-361's eager
    key-boundary validation, applied per field)."""
    fields: list[FieldSpec] = []
    for part in spec.split(","):
        bits = part.strip().split(":")
        if len(bits) != 4:
            raise ValueError(f"layout field must be name:start:len:type, got {part!r}")
        name, start, length, ftype = bits
        start_i, length_i = int(start), int(length)
        # COBOL OCCURS: "type[n]" = n consecutive elements of `length`
        # bytes each -> one array column (e.g. "qty:10:5:int[12]");
        # OCCURS DEPENDING ON: "type[n->counter]" = up to n slots, the
        # per-row valid count read from the earlier `counter` field
        # (PIC ... OCCURS 1 TO n TIMES DEPENDING ON counter)
        occurs = 1
        depends_on = None
        m = re.fullmatch(r"(.+)\[([0-9]+)->([A-Za-z_][A-Za-z0-9_]*)\]", ftype)
        if m:
            ftype, occurs, depends_on = m.group(1), int(m.group(2)), m.group(3)
            if occurs < 1:
                raise ValueError(f"OCCURS count must be >= 1 in {part!r}")
            counters = [
                g for g in fields
                if g.name == depends_on and not g.is_array
                and g.base_type in ("int", "long")
            ]
            if not counters:
                raise ValueError(
                    f"OCCURS DEPENDING ON field {depends_on!r} in {part!r} "
                    "must be a PRECEDING scalar int/long layout field"
                )
        else:
            m = re.fullmatch(r"(.+)\[([0-9]+)\]", ftype)
            if m:
                ftype, occurs = m.group(1), int(m.group(2))
                if occurs < 1:
                    raise ValueError(f"OCCURS count must be >= 1 in {part!r}")
        if ftype.split("(")[0] not in _FIELD_TYPES:
            raise ValueError(f"unsupported layout type {ftype!r} in {part!r}")
        if start_i < 0 or length_i <= 0:
            raise ValueError(f"bad bounds in layout field {part!r}")
        f = FieldSpec(name, start_i, length_i, ftype, occurs, depends_on)
        _check_width(f)
        if start_i + f.span > record_length:
            raise ValueError(
                f"layout field {name!r} [{start_i}, {start_i + f.span}) "
                f"exceeds recordLength={record_length}"
            )
        fields.append(f)
    if len({f.name for f in fields}) != len(fields):
        raise ValueError("duplicate field names in layout")
    return fields


def layout_schema(fields: list[FieldSpec]) -> StructType:
    return StructType([StructField(f.name, f.spark_type(), True) for f in fields])


def check_user_schema(source: str, user: StructType, own: StructType) -> None:
    """Raise ``ValueError`` naming the first differing field unless the
    schema Spark hands ``reader()`` — the options' own, or one given with
    ``.schema(...)`` — has the options' columns, in order, with their
    types.  Readers emit columns by position, so a retyped column would
    otherwise fail in the JVM and an unknown one in the worker.
    Nullability is not compared."""
    got = {f.name: f.dataType for f in user.fields}
    want = {f.name: f.dataType for f in own.fields}
    for name, dtype in want.items():
        if name not in got:
            raise ValueError(f"{source}: user schema lacks column {name!r}")
        if got[name] != dtype:
            raise ValueError(
                f"{source}: user schema types column {name!r} as "
                f"{got[name].simpleString()}; the options decode it as "
                f"{dtype.simpleString()}"
            )
    for name in got:
        if name not in want:
            raise ValueError(
                f"{source}: user schema column {name!r} is not produced by "
                f"the options (columns: {list(want)})"
            )
    for a, b in zip(user.fields, own.fields):
        if a.name != b.name:
            raise ValueError(
                f"{source}: user schema has column {a.name!r} where the "
                f"options produce {b.name!r}"
            )


@lru_cache(maxsize=8)
def transcode_table(encoding: str) -> np.ndarray | None:
    """256-entry byte translation table mapping single bytes of
    ``encoding`` to their latin-1 code points (unmappable → ``?``), or
    None when the encoding is already ASCII-compatible.  Lets the
    vectorized decode path handle single-byte charsets — notably EBCDIC
    code pages (cp037/cp500/cp1140...), the native encoding of the
    mainframe fixed-width files the reference's world revolves around —
    as one numpy table lookup over the whole record matrix."""
    name = codecs.lookup(encoding).name
    if name in ("utf-8", "ascii"):
        return None
    tbl = np.empty(256, dtype=np.uint8)
    for b in range(256):
        try:
            ch = bytes([b]).decode(encoding)
            cp = ord(ch) if len(ch) == 1 else 0x3F
        except UnicodeDecodeError:
            cp = 0x3F
        tbl[b] = cp if cp < 0x100 else 0x3F
    return tbl


def _slice_bytes(mat: np.ndarray, start: int, length: int) -> np.ndarray:
    """(n, record_length) uint8 matrix -> n fixed-width byte strings.

    WARNING: numpy 'S' dtype strips trailing NUL bytes — only safe for
    TEXT-encoded field decode (space-padded contract).  Binary columns
    must use ``_slice_binary`` which preserves every byte."""
    sl = np.ascontiguousarray(mat[:, start : start + length])
    return sl.view(f"S{length}").ravel()


def _slice_binary(mat: np.ndarray, start: int, length: int) -> pa.Array:
    """Exact fixed-width byte slices as a variable-binary Arrow array —
    zero-copy offsets+data buffers, trailing NULs preserved (numpy 'S'
    would strip them, corrupting record_key/value round-trips)."""
    n = mat.shape[0]
    sl = np.ascontiguousarray(mat[:, start : start + length])
    offsets = np.arange(0, (n + 1) * length, length, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(),
        n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(sl.tobytes())],
    )


# ---------------------------------------------------------------------------
# Text decoders: the charset-transcoded matrix, cast to UTF-8 strings

_I32_MIN, _I32_MAX = -(2**31), 2**31 - 1
_I64_MIN, _I64_MAX = -(2**63), 2**63 - 1


def _text(mat: np.ndarray, f: FieldSpec, permissive: bool):
    """The field's bytes as an Arrow string column, plus a mask of the
    rows whose non-printable bytes were blanked (None when none were).

    Robustness order matters: non-printable/non-ASCII bytes are blanked
    BEFORE the UTF-8 cast (a raw 0xFF would otherwise fail the whole
    task); the type's pattern then nulls them with other malformed text."""
    sl = np.ascontiguousarray(mat[:, f.start : f.start + f.length])
    bad_bytes = None
    if permissive:
        ok = ((sl >= 0x20) & (sl <= 0x7E)).all(axis=1)  # printable ASCII only
        if not bool(ok.all()):
            bad_bytes = pa.array(~ok)
            sl = sl.copy()
            sl[~ok] = 0x20  # spaces -> rtrim/regex turn them into null below
    raw = pa.array(sl.view(f"S{f.length}").ravel())
    return pc.cast(raw, pa.string()), bad_bytes


def _trimmed(mat: np.ndarray, f: FieldSpec, permissive: bool) -> pa.Array:
    """The field's space-trimmed text; under permissive decode a value
    that does not match the type's pattern becomes null."""
    trimmed = pc.utf8_trim(_text(mat, f, permissive)[0], characters=" ")
    if permissive:
        mask = pc.match_substring_regex(trimmed, f.kind.valid_re)
        trimmed = pc.if_else(mask, trimmed, pa.scalar(None, pa.string()))
    return trimmed


def _decode_string(mat: np.ndarray, f: FieldSpec, permissive: bool) -> pa.Array:
    # values are right-padded with spaces (FixedLengthInputFormat.java:42-43)
    s, bad_bytes = _text(mat, f, permissive)
    out = pc.utf8_rtrim(s, characters=" ")
    if bad_bytes is not None:
        out = pc.if_else(bad_bytes, pa.scalar(None, pa.string()), out)
    return out


def _decode_long(mat: np.ndarray, f: FieldSpec, permissive: bool) -> pa.Array:
    # failfast: Arrow raises on garbage, '+' signs, and overflow;
    # permissive: the pattern bounds digits to 19 and a 19-digit value
    # past the int64 range is nulled => the parse cannot raise
    text = _trimmed(mat, f, permissive)
    if permissive and f.length >= 19:
        digits = pc.utf8_ltrim(pc.utf8_ltrim(text, characters="-"), characters="0")
        limit = pc.if_else(
            pc.starts_with(text, "-"), str(-_I64_MIN), str(_I64_MAX)
        )
        # equal-length digit strings compare in numeric order
        over = pc.and_(
            pc.equal(pc.utf8_length(digits), 19), pc.greater(digits, limit)
        )
        text = pc.if_else(over, pa.scalar(None, pa.string()), text)
    return pc.cast(text, pa.int64())


def _decode_int(mat: np.ndarray, f: FieldSpec, permissive: bool) -> pa.Array:
    if not permissive:
        return pc.cast(_trimmed(mat, f, permissive), pa.int32())
    # Arrow's int32 cast raises on overflow: range-check the int64 parse
    v64 = _decode_long(mat, f, permissive)
    in_range = pc.and_kleene(
        pc.greater_equal(v64, _I32_MIN), pc.less_equal(v64, _I32_MAX)
    )
    v64 = pc.if_else(
        pc.fill_null(in_range, False), v64, pa.scalar(None, pa.int64())
    )
    return pc.cast(v64, pa.int32())


def _decode_double(mat: np.ndarray, f: FieldSpec, permissive: bool) -> pa.Array:
    return pc.cast(_trimmed(mat, f, permissive), pa.float64())


def _decode_implied(mat: np.ndarray, f: FieldSpec, permissive: bool) -> pa.Array:
    # COBOL PIC 9(n)V9(s): digits only, decimal point implied at
    # ``scale`` places — parse int64-exact, scale once
    ints = _decode_long(mat, f, permissive)
    return pc.divide(pc.cast(ints, pa.float64()), pa.scalar(float(10**f.scale)))


def _decode_date(mat: np.ndarray, f: FieldSpec, permissive: bool) -> pa.Array:
    trimmed = _trimmed(mat, f, permissive)
    ts = pc.strptime(trimmed, format="%Y-%m-%d", unit="s")
    # Arrow strptime silently ROLLS OVER calendar-invalid dates
    # (2021-04-31 -> 2021-05-01); round-trip to catch them
    back = pc.strftime(ts, format="%Y-%m-%d")
    bad = pc.and_kleene(pc.invert(pc.equal(back, trimmed)), pc.is_valid(trimmed))
    if pc.any(bad).as_py():
        if not permissive:
            raise ValueError(
                f"fixedlen: calendar-invalid date in field {f.name!r} "
                f"(e.g. {trimmed.filter(bad)[0].as_py()!r}); "
                "use mode=permissive to null malformed values"
            )
        ts = pc.if_else(bad, pa.scalar(None, ts.type), ts)
    return pc.cast(ts, pa.date32())


def _decode_julian(mat: np.ndarray, f: FieldSpec, permissive: bool) -> pa.Array:
    """Mainframe Julian date: YYDDD (windowed century: YY >= 70 -> 19YY
    else 20YY, the classic COBOL Y2K window) or YYYYDDD.  Decoded by
    explicit day-of-year arithmetic (portable across Arrow strptime %j
    quirks): epoch_day(Jan 1, year) + DDD - 1, with DDD validated
    against the year's real length."""
    trimmed = _trimmed(mat, f, permissive)
    w = f.length
    year_s = pc.utf8_slice_codeunits(trimmed, 0, w - 3)
    ddd_s = pc.utf8_slice_codeunits(trimmed, w - 3, w)
    # exact-width check in BOTH modes: an under-width digit run
    # (e.g. '1234' in a 5-byte field) would otherwise silently
    # mis-slice into (year='1', ddd='234') instead of honoring
    # the failfast contract every other numeric type keeps
    len_ok = pc.equal(pc.utf8_length(trimmed), w)
    short = pc.and_kleene(pc.is_valid(trimmed), pc.invert(len_ok))
    if not permissive and pc.any(pc.fill_null(short, False)).as_py():
        raise ValueError(
            f"fixedlen: julian value narrower than field width {w} in "
            f"field {f.name!r} (e.g. "
            f"{trimmed.filter(pc.fill_null(short, False))[0].as_py()!r}); "
            "use mode=permissive to null malformed values"
        )
    year_s = pc.if_else(len_ok, year_s, pa.scalar(None, pa.string()))
    ddd_s = pc.if_else(len_ok, ddd_s, pa.scalar(None, pa.string()))
    year = pc.cast(year_s, pa.int32())  # failfast: raises on garbage
    ddd = pc.cast(ddd_s, pa.int32())
    if w == 5:
        year = pc.add(
            year,
            pc.if_else(
                pc.greater_equal(year, 70),
                pa.scalar(1900, pa.int32()),
                pa.scalar(2000, pa.int32()),
            ),
        )
    leap = pc.or_(
        pc.and_(
            pc.equal(pc.bit_wise_and(year, 3), 0),
            pc.not_equal(
                pc.subtract(year, pc.multiply(pc.divide(year, 100), 100)), 0
            ),
        ),
        pc.equal(pc.subtract(year, pc.multiply(pc.divide(year, 400), 400)), 0),
    )
    max_ddd = pc.add(pa.scalar(365, pa.int32()), pc.cast(leap, pa.int32()))
    bad = pc.and_kleene(
        pc.is_valid(ddd), pc.or_kleene(pc.less(ddd, 1), pc.greater(ddd, max_ddd))
    )
    if pc.any(pc.fill_null(bad, False)).as_py():
        if not permissive:
            raise ValueError(
                f"fixedlen: day-of-year out of range in julian field "
                f"{f.name!r} (e.g. "
                f"{trimmed.filter(pc.fill_null(bad, False))[0].as_py()!r}); "
                "use mode=permissive to null malformed values"
            )
        year = pc.if_else(bad, pa.scalar(None, pa.int32()), year)
        ddd = pc.if_else(bad, pa.scalar(None, pa.int32()), ddd)
    year4 = pc.utf8_lpad(pc.cast(year, pa.string()), 4, "0")
    jan1 = pc.strptime(
        pc.binary_join_element_wise(year4, "01", "01", "-"),
        format="%Y-%m-%d",
        unit="s",
    )
    epoch_day = pc.cast(pc.cast(jan1, pa.date32()), pa.int32())
    days = pc.add(epoch_day, pc.subtract(ddd, 1))
    return pc.cast(pc.cast(days, pa.int32()), pa.date32())


def decode_field(mat: np.ndarray, f: FieldSpec, permissive: bool = False) -> pa.Array:
    """Vectorized decode of one scalar field column from the record
    matrix (the transcoded one for text types, the raw one for binary
    types), through its type's decoder.

    permissive=True nulls malformed values instead of the default
    failfast error — the reference has no notion of malformed fields
    because it never decodes any (FixedLengthInputFormat.java:38-43).
    """
    return f.kind.decode(mat, f, permissive)


def _scaled_digits(
    f: FieldSpec,
    digits: np.ndarray,
    negative: np.ndarray,
    bad: np.ndarray,
    permissive: bool,
    what: str,
) -> pa.Array:
    """The digit-matrix kernel of packed, zoned and sign-separate
    decimals: ``digits`` is (n, k) int64 with the most significant digit
    first, ``negative`` and ``bad`` (sign or zone defects) are per row.
    A row with a non-digit entry is bad too; bad rows fail (failfast,
    naming ``what``) or become null (permissive).  The int64 dot product
    is exact up to 18 digits (the width rule), scaled by 10^-scale once."""
    _check_width(f)
    bad = bad | ((digits < 0) | (digits > 9)).any(axis=1)
    if bool(bad.any()) and not permissive:
        raise ValueError(
            f"fixedlen: invalid {what} in field {f.name!r}; "
            "use mode=permissive to null malformed values"
        )
    np.clip(digits, 0, 9, out=digits)  # keep the dot product defined for bad rows
    powers = 10 ** np.arange(digits.shape[1] - 1, -1, -1, dtype=np.int64)
    ints = digits @ powers
    vals = np.where(negative, -ints, ints) / np.float64(10**f.scale)
    arr = pa.array(vals, type=pa.float64())
    if bool(bad.any()):
        arr = pc.if_else(pa.array(bad), pa.scalar(None, pa.float64()), arr)
    return arr


def decode_packed_field(
    mat: np.ndarray, f: FieldSpec, permissive: bool = False
) -> pa.Array:
    """COBOL COMP-3 packed decimal (BCD): an L-byte field holds 2L-1
    digit nibbles followed by a sign nibble (0xC/0xF positive, 0xD
    negative), scaled by 10^-scale.  The mainframe fixed-width staple —
    and inherently BINARY, so it operates on the RAW byte matrix
    (never charset-transcoded) and only exists because records are
    fixed-length: no delimiter could survive inside BCD bytes."""
    sl = np.ascontiguousarray(mat[:, f.start : f.start + f.length])
    nibbles = np.empty((sl.shape[0], 2 * f.length), dtype=np.int64)
    nibbles[:, 0::2] = sl >> 4
    nibbles[:, 1::2] = sl & 0x0F
    sign = nibbles[:, -1]
    return _scaled_digits(
        f, nibbles[:, :-1], sign == 0xD, ~np.isin(sign, (0xC, 0xD, 0xF)),
        permissive, "packed-decimal nibble",
    )


def decode_zoned_field(
    mat: np.ndarray, f: FieldSpec, permissive: bool = False,
    leading: bool = False,
) -> pa.Array:
    """EBCDIC zoned decimal (COBOL PIC S9(n) DISPLAY): one digit per
    byte, low nibble the digit, zone nibble 0xF — except the sign byte
    (LAST by default; FIRST under ``SIGN LEADING`` without SEPARATE,
    ``leading=True``), whose zone overpunches the sign (0xC/0xF
    positive, 0xD negative).  Binary-level like packed: decodes the RAW
    matrix, vectorized."""
    sl = np.ascontiguousarray(mat[:, f.start : f.start + f.length])
    zones = (sl >> 4).astype(np.int64)
    sign_zone = zones[:, 0] if leading else zones[:, -1]
    plain_zones = zones[:, 1:] if leading else zones[:, :-1]
    bad = (plain_zones != 0xF).any(axis=1) | ~np.isin(sign_zone, (0xC, 0xD, 0xF))
    return _scaled_digits(
        f, (sl & 0x0F).astype(np.int64), sign_zone == 0xD, bad,
        permissive, "zoned-decimal byte",
    )


def decode_signsep_field(
    fmat: np.ndarray, f: FieldSpec, permissive: bool = False,
    leading: bool = False,
) -> pa.Array:
    """COBOL SIGN LEADING/TRAILING SEPARATE (PIC S9(n)[V9(m)] DISPLAY
    SIGN ... SEPARATE): an explicit '+'/'-' character byte before/after
    the digit run.  Decodes the TRANSCODED matrix (charset digits, like
    int/implied), vectorized."""
    sl = np.ascontiguousarray(fmat[:, f.start : f.start + f.length])
    sign = sl[:, 0] if leading else sl[:, -1]
    digit_bytes = sl[:, 1:] if leading else sl[:, :-1]
    return _scaled_digits(
        f, digit_bytes.astype(np.int64) - ord("0"), sign == ord("-"),
        ~np.isin(sign, (ord("+"), ord("-"))), permissive, "sign-separate byte",
    )


def decode_bin_field(
    mat: np.ndarray, f: FieldSpec, permissive: bool = False
) -> pa.Array:
    """Big-endian two's-complement binary integer (COBOL COMP-4 /
    BINARY; widths 1/2/4/8) — the exact convention the reference uses
    for its offset key (FixedLengthRecordReader.java:270-278, mirrored
    by the test helper toLong, TestFixedLengthInputFormat.java:490-505).
    Decode is a zero-copy numpy big-endian view; binary, so it reads the
    RAW matrix.  No malformed state exists: every bit pattern is a
    value, so mode has no effect."""
    _check_width(f)
    sl = np.ascontiguousarray(mat[:, f.start : f.start + f.length])
    vals = sl.view(f">i{f.length}").ravel().astype(np.int64)
    return pa.array(vals, type=pa.int64())


def decode_float_field(
    mat: np.ndarray, f: FieldSpec, permissive: bool = False
) -> pa.Array:
    """Big-endian IEEE-754 float (COBOL COMP-1 single / COMP-2 double).
    COMP-1 widens to float64 exactly (every float32 is representable);
    like ``bin``, every bit pattern is a value (NaNs/infinities pass
    through), so mode has no effect and the RAW matrix is read."""
    sl = np.ascontiguousarray(mat[:, f.start : f.start + f.length])
    vals = sl.view(f">f{f.length}").ravel().astype(np.float64)
    return pa.array(vals, type=pa.float64())


# ---------------------------------------------------------------------------
# Encoders.  A scalar encoder takes one value to its field's text
# (charset-encoded by the caller) or, for the raw types, its bytes;
# ``format_value`` rejects NULL first.  The int, long, double, string
# and date types also have a column encoder: a whole Arrow column to
# its (n, width) ASCII text, plus a mask of the rows it cannot prove
# byte-identical to the scalar encoder (NULLs, values that do not fit,
# rounding ties, out-of-range years, non-ASCII text);
# ``encode_batch`` sends exactly those rows through the scalar encoder.


def _format_date(v, f: FieldSpec) -> str:
    s = v.strftime("%Y-%m-%d") if hasattr(v, "strftime") else str(v)[:10]
    return s.ljust(f.length)


def _format_julian(v, f: FieldSpec) -> str:
    if v == "":  # the blank filler
        return " " * f.length
    d = v if hasattr(v, "timetuple") else datetime.date.fromisoformat(str(v)[:10])
    doy = d.timetuple().tm_yday
    if f.length != 5:
        return f"{d.year:04d}{doy:03d}"
    if not (1970 <= d.year <= 2069):
        raise ValueError(
            f"year {d.year} outside the YYDDD century window "
            f"(1970-2069) for field {f.name}"
        )
    return f"{d.year % 100:02d}{doy:03d}"


def _digit_text(value, f: FieldSpec, n_digits: int, kind: str) -> tuple[int, str]:
    """``value`` scaled by 10^scale, and its magnitude as ``n_digits``
    zero-padded digits (the inverse of ``_scaled_digits``)."""
    scaled = round(float(value) * (10**f.scale))
    digits = f"{abs(scaled):0{n_digits}d}"
    if len(digits) > n_digits:
        raise ValueError(
            f"value {value!r} does not fit {kind} field {f.name} "
            f"({n_digits} digits)"
        )
    return scaled, digits


def encode_packed(value, f: FieldSpec) -> bytes:
    """Encode a number as COMP-3 packed decimal (inverse of
    decode_packed_field; sign nibble 0xC positive / 0xD negative)."""
    scaled, digits = _digit_text(value, f, 2 * f.length - 1, "packed")
    nibbles = [int(c) for c in digits] + [0xD if scaled < 0 else 0xC]
    return bytes(
        (nibbles[i] << 4) | nibbles[i + 1] for i in range(0, len(nibbles), 2)
    )


def encode_zoned(value, f: FieldSpec, leading: bool = False) -> bytes:
    """Encode a number as EBCDIC zoned decimal (inverse of
    decode_zoned_field; sign overpunched in the last byte's zone, or
    the first byte's under ``leading=True``)."""
    scaled, digits = _digit_text(value, f, f.length, "zoned")
    out = bytearray(0xF0 | int(c) for c in digits)
    at = 0 if leading else -1
    out[at] = (0xD0 if scaled < 0 else 0xC0) | int(digits[at])
    return bytes(out)


def encode_signsep(value, f: FieldSpec, leading: bool) -> str:
    """Inverse of decode_signsep_field (charset-encoded by the caller)."""
    scaled, digits = _digit_text(value, f, f.length - 1, "sign-separate")
    sign = "-" if scaled < 0 else "+"
    return sign + digits if leading else digits + sign


def encode_bin(value, f: FieldSpec) -> bytes:
    """Encode an integer as big-endian two's-complement (COMP-4)."""
    try:
        return int(value).to_bytes(f.length, "big", signed=True)
    except OverflowError:
        raise ValueError(
            f"value {value!r} does not fit bin field {f.name} "
            f"({f.length} bytes signed)"
        )


def _encode_float(fmt: str):
    """Big-endian IEEE float encoder (COMP-1 rounds to nearest-even
    float32 — the same rounding every engine's double->float cast
    performs, so round-trips are cross-engine deterministic)."""
    return lambda value, f: struct.pack(fmt, float(value))


# (n,) masks and digit matrices shared by the column encoders


def _nulls(col: pa.Array) -> np.ndarray:
    if col.null_count == 0:
        return np.zeros(len(col), dtype=bool)
    return np.asarray(col.is_null())


def _values(col: pa.Array, to: pa.DataType, null) -> np.ndarray:
    """The column cast to ``to`` as a numpy array, NULL as ``null``."""
    col = col if col.type == to else pc.cast(col, to)
    return np.asarray(col if col.null_count == 0 else col.fill_null(null))


# the four ASCII digits of 0..9999, as one little-endian uint32 each
_QUADS = np.array(
    [int.from_bytes(b"%04d" % i, "little") for i in range(10_000)], dtype="<u4"
)


def _ascii_digits(mag: np.ndarray, width: int) -> np.ndarray:
    """(n, width) ASCII decimal digits of the non-negative int64 ``mag``,
    zero-padded on the left (high digits past ``width`` are dropped):
    four digits per pass, one table lookup each."""
    quads = -(-width // 4)
    buf = np.empty((mag.shape[0], quads), dtype="<u4")
    q = mag
    for j in range(quads - 1, -1, -1):
        q, r = np.divmod(q, 10_000)
        buf[:, j] = _QUADS[r]
    return buf.view(np.uint8)[:, 4 * quads - width :]


def _below(mag: np.ndarray, digits: int) -> np.ndarray:
    """``mag < 10**digits`` (no row fits in fewer than one digit)."""
    if digits < 1:
        return np.zeros(mag.shape[0], dtype=bool)
    if digits >= 19:
        return np.ones(mag.shape[0], dtype=bool)
    return mag < 10**digits


def _enc_int(col: pa.Array, f: FieldSpec):
    """``f"{v:0{width}d}"``: '-' takes the first digit slot; a value
    wider than the field is the scalar encoder's."""
    t = col.type
    if not (pa.types.is_signed_integer(t) or t in (pa.uint8(), pa.uint16(), pa.uint32())):
        return None
    v, bad = _values(col, pa.int64(), 0), _nulls(col)
    neg = v < 0
    mag = np.abs(v)  # -2^63 stays negative: unprovable
    w = f.length
    bad = bad | (mag < 0) | np.where(neg, ~_below(mag, w - 1), ~_below(mag, w))
    out = _ascii_digits(np.where(bad, 0, mag), w)
    out[neg & ~bad, 0] = ord("-")
    return out, bad


def _enc_double(col: pa.Array, f: FieldSpec):
    """``f"{v:0{width}.{scale}f}"``: Python rounds the exact binary value,
    so a scaled value within 2^-50 of it of a half (a possible tie) and
    non-finite values are left to the scalar encoder."""
    s, width = f.scale, f.length
    int_slots = width - s - (1 if s else 0)
    if not (col.type in (pa.float32(), pa.float64()) and 0 <= s <= 15 and int_slots >= 1):
        return None
    x, bad = _values(col, pa.float64(), 0.0), _nulls(col)
    y = np.abs(x) * float(10**s)
    bad = bad | ~(y < 2.0**50)
    y[bad] = 0.0
    bad |= np.abs(y - np.floor(y) - 0.5) <= y * 2.0**-50
    mag = np.rint(y).astype(np.int64)
    neg = np.signbit(x)  # '-0.00' keeps its sign, as in Python
    # the integer part fits its slots, one fewer behind a '-'
    fits = _below(mag, int_slots + s)
    fits_neg = _below(mag, int_slots - 1 + s) if int_slots > 1 else np.zeros_like(fits)
    bad |= np.where(neg, ~fits_neg, ~fits)
    digits = _ascii_digits(np.where(bad, 0, mag), width - (1 if s else 0))
    if s:
        out = np.empty((len(x), width), dtype=np.uint8)
        out[:, :int_slots] = digits[:, :int_slots]
        out[:, int_slots] = ord(".")
        out[:, int_slots + 1 :] = digits[:, int_slots:]
    else:
        out = digits
    out[neg & ~bad, 0] = ord("-")
    return out, bad


def fixed_width_view(arr: pa.Array, width: int) -> np.ndarray:
    """The (n, width) bytes of a string or binary array whose every
    value is exactly ``width`` bytes long (a read-only view)."""
    n = len(arr)
    if n == 0:
        return np.zeros((0, width), dtype=np.uint8)
    _validity, offsets, data = arr.buffers()
    large = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    ot = np.int64 if large else np.int32
    lo = int(np.frombuffer(offsets, dtype=ot, count=1, offset=arr.offset * np.dtype(ot).itemsize)[0])
    return np.frombuffer(data, dtype=np.uint8, count=n * width, offset=lo).reshape(n, width)


def _enc_string(col: pa.Array, f: FieldSpec):
    """``str(v).ljust(width)``: ASCII values up to the width are
    ``utf8_rpad``-ed and viewed as fixed-width bytes; other text (whose
    encoded width depends on the charset) is the scalar encoder's."""
    if not (pa.types.is_string(col.type) or pa.types.is_large_string(col.type)):
        return None
    chars = np.asarray(pc.utf8_length(col).fill_null(0))
    bad = _nulls(col) | (chars != np.asarray(pc.binary_length(col).fill_null(0)))
    bad |= chars > f.length
    if bad.any():
        col = pc.if_else(pa.array(~bad), col, pa.scalar("", col.type))
    return fixed_width_view(pc.utf8_rpad(col, width=f.length, padding=" "), f.length), bad


def _enc_date(col: pa.Array, f: FieldSpec):
    """``YYYY-MM-DD`` blank-padded, by civil-from-days arithmetic on the
    proleptic Gregorian calendar; a year outside 1000-9999 (strftime
    does not pad it to four digits) is the scalar encoder's."""
    if not pa.types.is_date32(col.type) or f.length < 10:
        return None
    z = _values(col.cast(pa.int32()), pa.int32(), 0).astype(np.int64) + 719468
    era = z // 146097
    doe = z - era * 146097  # day of the 400-year era
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)  # from March 1
    mp = (5 * doy + 2) // 153
    day = doy - (153 * mp + 2) // 5 + 1
    month = np.where(mp < 10, mp + 3, mp - 9)
    year = yoe + era * 400 + (month <= 2)
    bad = _nulls(col) | (year < 1000) | (year > 9999)
    ymd = _ascii_digits(np.where(bad, 0, year * 10_000 + month * 100 + day), 8)
    out = np.full((len(col), f.length), ord(" "), dtype=np.uint8)
    out[:, [0, 1, 2, 3, 5, 6, 8, 9]] = ymd
    out[:, [4, 7]] = ord("-")
    return out, bad


def _widths(allowed: tuple[int, ...], what: str):
    """Width rule: the field must be one of ``allowed`` bytes wide."""
    return lambda f: (
        None if f.length in allowed else f"{what.format(f=f)}, got {f.length}"
    )


def _digits(kind: str, count: Callable[[int], int]):
    """Width rule of a decimal holding ``count(width)`` digits: at
    least one (only a sign-separate field can have none) and at most 18,
    the int64-exact bound of the digit kernel."""
    def rule(f: FieldSpec) -> str | None:
        n = count(f.length)
        if n < 1:
            return f"{kind} field {f.name!r} needs >= 2 bytes (sign + digit)"
        if n > 18:
            return f"{kind} field {f.name!r}: {n} digits exceeds int64-exact 18"
        return None
    return rule


@dataclass(frozen=True)
class _FieldType:
    """One layout type: what parsing, schemas, decode and encode know of it."""

    spark: DataType
    # (matrix, field, permissive) -> scalar column, on the raw matrix
    # when ``raw``, else on the charset-transcoded one
    decode: Callable[[np.ndarray, FieldSpec, bool], pa.Array]
    # (value, field) -> bytes when ``raw``, else text for the charset
    encode: Callable[[object, FieldSpec], "bytes | str"]
    raw: bool = False
    # field -> error text for a width the type cannot hold, else None
    width: Callable[[FieldSpec], "str | None"] = lambda f: None
    valid_re: str | None = None  # permissive decode nulls non-matching text
    filler: object = 0  # for a NULL or an unused ODO slot: blank or zero
    # (column, field) -> ((n, width) ASCII text, rows left to
    # ``encode``), or None for a column of a foreign Arrow type; a type
    # without one is written by ``encode`` alone
    encode_col: "Callable[[pa.Array, FieldSpec], tuple | None] | None" = None


# leading zeros, then at most 19 digits (the decoder nulls the 19-digit
# values past the int64 range); '+' excluded — Arrow's string->int cast
# rejects it, so it's malformed
_INT_RE = r"^-?0*[0-9]{1,19}$"
# exactly the text Arrow's string->double cast reads: a signed decimal
# or exponent form, or nan / inf / infinity in any case
_DOUBLE_RE = (
    r"^(?i:[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)(e[+-]?[0-9]+)?"
    r"|[+-]?(nan|inf|infinity))$"
)
_DATE_RE = r"^[0-9]{4}-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])$"
_ZONED = _digits("zoned", lambda w: w)
_SIGNSEP = _digits("sign-separate", lambda w: w - 1)


def _int_text(v, f: FieldSpec) -> str:
    return f"{int(v):0{f.length}d}"


def _double_text(v, f: FieldSpec) -> str:
    v = float(v)
    if math.isfinite(v):
        return f"{v:0{f.length}.{f.scale}f}"
    return str(v).rjust(f.length)  # 'nan' / 'inf' / '-inf', blank-padded


_FIELD_TYPES: dict[str, _FieldType] = {
    "int": _FieldType(IntegerType(), _decode_int, _int_text, valid_re=_INT_RE, encode_col=_enc_int),
    "long": _FieldType(LongType(), _decode_long, _int_text, valid_re=_INT_RE, encode_col=_enc_int),
    "double": _FieldType(
        DoubleType(), _decode_double, _double_text, valid_re=_DOUBLE_RE,
        encode_col=_enc_double,
    ),
    "string": _FieldType(
        StringType(), _decode_string, lambda v, f: str(v).ljust(f.length), filler="",
        encode_col=_enc_string,
    ),
    "date": _FieldType(
        DateType(), _decode_date, _format_date, valid_re=_DATE_RE, filler="",
        encode_col=_enc_date,
    ),
    # mainframe Julian date: YYDDD (5, windowed century) or YYYYDDD (7);
    # the pattern admits both, the decoder re-checks the field's width
    "julian": _FieldType(
        DateType(), _decode_julian, _format_julian, filler="",
        width=_widths(
            (5, 7), "layout field {f.name!r}: julian is 5 (YYDDD) or 7 (YYYYDDD) bytes"
        ),
        valid_re=r"^[0-9]{5}([0-9]{2})?$",
    ),
    # PIC 9(n)V9(s): no point, implied scale
    "implied": _FieldType(
        DoubleType(), _decode_implied,
        lambda v, f: f"{round(float(v) * (10 ** f.scale)):0{f.length}d}",
        valid_re=_INT_RE,
    ),
    # COMP-3 BCD, scaled by 10^-scale
    "packed": _FieldType(
        DoubleType(), decode_packed_field, encode_packed, raw=True,
        width=_digits("packed", lambda w: 2 * w - 1),
    ),
    # PIC S9 DISPLAY, sign overpunch in the last / (SIGN LEADING) first byte
    "zoned": _FieldType(DoubleType(), decode_zoned_field, encode_zoned, True, _ZONED),
    "zonedl": _FieldType(
        DoubleType(), partial(decode_zoned_field, leading=True),
        partial(encode_zoned, leading=True), True, _ZONED,
    ),
    # SIGN LEADING/TRAILING SEPARATE: explicit '+'/'-' first / last byte
    "signl": _FieldType(
        DoubleType(), partial(decode_signsep_field, leading=True),
        partial(encode_signsep, leading=True), width=_SIGNSEP,
    ),
    "signt": _FieldType(
        DoubleType(), decode_signsep_field,
        partial(encode_signsep, leading=False), width=_SIGNSEP,
    ),
    # COMP-4: big-endian two's-complement binary
    "bin": _FieldType(
        LongType(), decode_bin_field, encode_bin, True,
        _widths((1, 2, 4, 8), "bin field {f.name!r}: width must be 1/2/4/8"),
    ),
    # COMP-1 / COMP-2: big-endian IEEE float32 (widened exactly) / float64
    "comp1": _FieldType(
        DoubleType(), decode_float_field, _encode_float(">f"), True,
        _widths((4,), "layout field {f.name!r}: type {f.ftype!r} is exactly 4 bytes"),
    ),
    "comp2": _FieldType(
        DoubleType(), decode_float_field, _encode_float(">d"), True,
        _widths((8,), "layout field {f.name!r}: type {f.ftype!r} is exactly 8 bytes"),
    ),
}


def _decode_one(
    mat: np.ndarray, fmat: np.ndarray, f: FieldSpec, permissive: bool
) -> pa.Array:
    """One SCALAR field through its type's decoder, on the raw or the
    charset-transcoded matrix."""
    return f.kind.decode(mat if f.kind.raw else fmat, f, permissive)


def decode_occurs_field(
    mat: np.ndarray,
    fmat: np.ndarray,
    f: FieldSpec,
    permissive: bool,
    counts: "pa.Array | None" = None,
) -> pa.Array:
    """COBOL OCCURS n decode: each element slot decodes through the
    normal vectorized scalar path (n cheap column ops, never per-record
    Python), then the slot columns interleave row-major into one
    ListArray per row.  The interleave is a single Arrow take() with
    computed indices — O(rows x n) pointer moves, no value re-parsing.

    ``counts`` (OCCURS DEPENDING ON) gives each row's list length: the
    record still reserves all n slots (fixed LRECL), only the first
    count are data, and a slot is decoded only on the rows that use it
    (unused slots hold filler, which need not be a valid value).  A
    counter that is null / negative / > n is corruption: failfast
    raises, permissive nulls the whole list (the quarantine
    convention)."""
    n_elem = f.occurs
    n_rows = mat.shape[0]
    lengths = np.full(n_rows, n_elem, dtype=np.int64)
    bad = np.zeros(n_rows, dtype=bool)
    if counts is not None:
        cnt = np.asarray(counts.cast(pa.float64()))  # nulls -> NaN
        bad = ~np.isfinite(cnt) | (cnt < 0) | (cnt > n_elem)
        if bad.any() and not permissive:
            i = int(np.argmax(bad))
            raise ValueError(
                f"OCCURS DEPENDING ON counter {f.depends_on!r} out of range "
                f"[0, {n_elem}] for field {f.name!r} (row {i}: "
                f"{counts[i].as_py()!r})"
            )
        lengths = np.where(bad, 0, cnt).astype(np.int64)
    used = np.arange(n_elem)[None, :] < lengths[:, None]  # (rows, slots)
    slots = []
    for j in range(n_elem):
        rows = slice(None) if used[:, j].all() else used[:, j]
        col = _decode_one(mat[rows], fmat[rows], f.element(j), permissive)
        slots.append(col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col)
    # slot-major concat -> row-major order via take(): element j of row i
    # sits at its rank among slot j's rows, after the earlier slots
    slot_starts = np.concatenate([[0], np.cumsum(used.sum(axis=0))[:-1]])
    idx = (np.cumsum(used, axis=0) - 1 + slot_starts)[used]
    values = pa.concat_arrays(slots).take(pa.array(idx, type=pa.int64()))
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    if bad.any():  # permissive: null list per corrupt counter
        offsets = [None if i < n_rows and bad[i] else int(o)
                   for i, o in enumerate(offsets)]
    return pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), values)


def _decode_fields(
    mat: np.ndarray, fmat: np.ndarray, fields: list[FieldSpec], permissive: bool
) -> list[pa.Array]:
    """One column per layout field, in layout order; an OCCURS DEPENDING
    ON field takes its per-row counts from its (earlier) counter."""
    cols: list[pa.Array] = []
    scalars: dict[str, pa.Array] = {}
    for f in fields:
        if f.is_array:
            counts = scalars[f.depends_on] if f.depends_on else None
            cols.append(decode_occurs_field(mat, fmat, f, permissive, counts))
        else:
            arr = _decode_one(mat, fmat, f, permissive)
            scalars[f.name] = arr
            cols.append(arr)
    return cols


def _null_rows(cols: list[pa.Array]) -> np.ndarray | None:
    """Rows with a null anywhere in ``cols`` — an OCCURS element or a
    whole ODO list counts — or None when no column holds a null.  Under
    permissive decode that marks a malformed field: fixed-width fields
    cannot be legitimately null (the writer rejects None)."""
    bad = None
    for col in cols:
        if pa.types.is_list(col.type):
            # ODO lists are variable-length and can themselves be null
            # (corrupt counter), so walk the offsets instead of reshaping
            if col.values.null_count == 0 and col.null_count == 0:
                continue
            el_null = np.asarray(pc.is_null(col.values))
            offs = np.asarray(col.offsets.fill_null(0))
            cs = np.concatenate([[0], np.cumsum(el_null)])
            m = cs[offs[1:]] - cs[offs[:-1]] > 0
            if col.null_count:
                m |= np.asarray(pc.is_null(col))
        else:
            if col.null_count == 0:
                continue
            m = np.asarray(pc.is_null(col))
        bad = m if bad is None else bad | m
    return bad


def _record_matrices(chunk: bytes, record_length: int, encoding: str):
    """The (n, record_length) raw byte matrix and its charset-transcoded
    view (the same array for ASCII-compatible encodings)."""
    n = len(chunk) // record_length
    mat = np.frombuffer(chunk, dtype=np.uint8).reshape(n, record_length)
    tbl = transcode_table(encoding)
    return mat, (mat if tbl is None else tbl[mat])


def _lead_columns(
    mat: np.ndarray,
    base_offset: int,
    with_offset: bool,
    key_bounds: tuple[int, int] | None,
    step: int,
) -> list[pa.Array]:
    """[record_offset?] [record_key?]: the file-global byte offset — the
    reference's default key (FixedLengthRecordReader.java:256-260),
    decoded from its 8-byte big-endian convention to a plain long — and
    the raw key slice, zero-based inclusive bounds (FLIF:100-149)."""
    cols: list[pa.Array] = []
    if with_offset:
        offs = base_offset + np.arange(mat.shape[0], dtype=np.int64) * step
        cols.append(pa.array(offs, type=pa.int64()))
    if key_bounds is not None:
        start, end = key_bounds
        cols.append(_slice_binary(mat, start, end - start + 1))
    return cols


def decode_chunk(
    chunk: bytes,
    record_length: int,
    fields: list[FieldSpec] | None,
    base_offset: int,
    with_offset: bool,
    key_bounds: tuple[int, int] | None,
    arrow_schema: pa.Schema,
    permissive: bool = False,
    encoding: str = "utf-8",
    corrupt_column: bool = False,
    offset_stride: int | None = None,
) -> pa.RecordBatch:
    """Decode one record-aligned byte chunk into an Arrow RecordBatch.

    ``offset_stride`` overrides the per-record offset step when the
    on-disk stride differs from the data length (lineSep-terminated
    files: the chunk arrives terminator-stripped, but offsets must walk
    the original file positions).

    Column order must match ``arrow_schema`` (= the Spark schema):
    [record_offset?] [record_key?] then layout fields (or raw ``value``).

    ``encoding`` transcodes FIELD decode only (one table lookup over the
    byte matrix); the raw ``value``/``record_key`` binary slices always
    carry the original bytes — key fidelity is the reference's contract
    (FixedLengthRecordReader.java:252-254), independent of charset.
    """
    mat, fmat = _record_matrices(chunk, record_length, encoding)
    step = offset_stride if offset_stride is not None else record_length
    cols = _lead_columns(mat, base_offset, with_offset, key_bounds, step)
    if fields is None:
        cols.append(_slice_binary(mat, 0, record_length))
        return pa.RecordBatch.from_arrays(cols, schema=arrow_schema)
    own = _decode_fields(mat, fmat, fields, permissive)
    cols.extend(own)
    if corrupt_column:
        # a null ANYWHERE in a row captures that row's raw bytes,
        # parquet-reader-style _corrupt_record
        bad = _null_rows(own)
        if bad is None:
            cols.append(pa.nulls(mat.shape[0], pa.binary()))
        else:
            raw = _slice_binary(mat, 0, record_length)
            cols.append(pc.if_else(pa.array(bad), raw, pa.scalar(None, pa.binary())))
    return pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


# ---------------------------------------------------------------------------
# Encode (fixture generation + the fixedlen sink)


def format_value(v, f: FieldSpec) -> "str | bytes":
    """One scalar value through its type's encoder: the field's text
    (bytes for the raw binary types)."""
    if v is None:
        raise ValueError(f"fixed-width field {f.name} cannot encode NULL")
    s = f.kind.encode(v, f)
    if len(s) > f.length:
        raise ValueError(
            f"value {v!r} does not fit field {f.name} (width {f.length})"
        )
    return s


def _encode_value(v, f: FieldSpec, encoding: str) -> bytes:
    """One field of one row through the scalar encoders: its ``f.span``
    bytes, or the error of its first bad value."""
    if not f.is_array:
        b = format_value(v, f)
        if isinstance(b, str):
            b = b.encode(encoding)
        if len(b) != f.length:
            raise ValueError(
                f"encoded field {f.name} is {len(b)} bytes, expected "
                f"{f.length} (non-ASCII content in a string field?)"
            )
        return b
    if f.depends_on is not None:
        # ODO: up to `occurs` data elements; unused slots hold the
        # type's filler (the record reserves them all)
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
    return b"".join(_encode_value(x, f.element(i), encoding) for i, x in enumerate(v))


def row_values(col: pa.Array) -> list:
    """The column's values as a row writer receives them: Arrow's Python
    values through Spark's own Arrow-to-Row converters."""
    from pyspark.sql.conversion import ArrowTableToRowsConversion
    from pyspark.sql.pandas.types import from_arrow_type

    conv = ArrowTableToRowsConversion._create_converter(
        from_arrow_type(col.type), none_on_identity=False, binary_as_bytes=True
    )
    return [conv(v) for v in col.to_pylist()]


def encode_batch(
    batch: pa.RecordBatch,
    fields: list[FieldSpec],
    record_length: int,
    encoding: str = "utf-8",
) -> np.ndarray:
    """Encode a RecordBatch (one column per layout field, by name; other
    columns are ignored) to its (n, record_length) uint8 record matrix —
    back-to-back fixed-width records once flattened, no delimiters
    (FixedLengthInputFormat.java:38-43).  Bytes no field covers are
    blanks; later fields overwrite earlier ones where they overlap.
    ``encoding`` produces single-byte charset text (e.g. EBCDIC cp037)
    symmetric with the reader's decode; the raw types (``packed`` BCD
    etc.) emit bytes untouched by the charset.

    A field whose type has a column encoder, under a charset that
    writes ASCII as itself, gets its slice from it; every other cell
    (a row the column encoder cannot prove, a type without one, an
    OCCURS field, a column of a foreign Arrow type, another charset)
    goes, in row-major order, through the scalar encoders, so the
    bytes, and the error of the first bad (row, field), are theirs."""
    n = batch.num_rows
    mat = np.full((n, record_length), " ".encode(encoding)[0], dtype=np.uint8)
    ascii_text = codecs.lookup(encoding).name in ("utf-8", "ascii")
    encoded = []
    for f in fields:
        col = batch.column(f.name)
        got = None
        if f.kind.encode_col is not None and not f.is_array and ascii_text:
            got = f.kind.encode_col(col, f)
        encoded.append((f, col, *(got or (None, np.ones(n, dtype=bool)))))
    # the scalar encoder's cells, per field: their rows and bytes
    fixes: list[tuple[list, list]] = [([], []) for _ in encoded]
    values: dict[str, list] = {}
    bad_rows = np.flatnonzero(np.logical_or.reduce([e[3] for e in encoded])) if encoded else ()
    for i in bad_rows:
        for (f, col, _block, bad), (rows, cells) in zip(encoded, fixes):
            if bad[i]:
                if f.name not in values:
                    values[f.name] = row_values(col)
                cells.append(_encode_value(values[f.name][i], f, encoding))
                rows.append(i)
    for (f, _col, block, _bad), (rows, cells) in zip(encoded, fixes):
        span = mat[:, f.start : f.start + f.span]
        if block is not None:
            span[:] = block
        if rows:
            span[rows] = np.frombuffer(b"".join(cells), dtype=np.uint8).reshape(-1, f.span)
    return mat

def encode_rows(
    rows,
    fields: list[FieldSpec],
    record_length: int,
    encoding: str = "utf-8",
) -> bytes:
    """Encode an iterable of dict rows to back-to-back fixed-width
    records: :func:`encode_batch` over ``RecordBatch.from_pylist``."""
    rows = list(rows)
    if not rows:
        return b""
    batch = pa.RecordBatch.from_pylist(rows)
    return encode_batch(batch, fields, record_length, encoding).tobytes()


def parse_multitype(
    spec: str, record_length: int, type_start: int, type_len: int
) -> tuple[dict[str, list[FieldSpec]], list[FieldSpec]]:
    """Parse a multi-record-type layout spec

        "TAG=name:start:len:type,...;TAG2=..."

    (the COBOL header/detail file shape: a discriminator byte slice at
    [type_start, type_start+type_len) selects which layout a record
    follows).  Returns (tag -> fields, union fields).  Union columns
    sharing a name across tags must agree on type; every record still
    has the fixed record_length — only interpretation varies."""
    if type_start < 0 or type_len <= 0 or type_start + type_len > record_length:
        raise ValueError(
            f"multitype: type slice [{type_start}, {type_start + type_len}) "
            f"out of record bounds (recordLength={record_length})"
        )
    layouts: dict[str, list[FieldSpec]] = {}
    union: list[FieldSpec] = []
    seen: dict[str, tuple[str, int, bool]] = {}
    for part in spec.split(";"):
        part = part.strip()
        if not part or "=" not in part:
            raise ValueError(f"multitype: segment must be TAG=layout, got {part!r}")
        tag, sub = part.split("=", 1)
        tag = tag.strip()
        if len(tag) != type_len:
            raise ValueError(
                f"multitype: tag {tag!r} length != typeLen={type_len}"
            )
        if tag in layouts:
            raise ValueError(f"multitype: duplicate tag {tag!r}")
        fields = parse_layout(sub, record_length)
        layouts[tag] = fields
        for f in fields:
            kind = (f.base_type, f.occurs, f.is_array)
            if f.name in seen:
                if seen[f.name] != kind:
                    raise ValueError(
                        f"multitype: field {f.name!r} has conflicting types "
                        f"{seen[f.name]!r} vs {kind!r} across tags"
                    )
            else:
                seen[f.name] = kind
                union.append(f)
    if not layouts:
        raise ValueError("multitype: no layouts given")
    return layouts, union


def decode_chunk_multitype(
    chunk: bytes,
    record_length: int,
    layouts: dict[str, list[FieldSpec]],
    union_fields: list[FieldSpec],
    type_bounds: tuple[int, int],  # (start, len)
    base_offset: int,
    with_offset: bool,
    key_bounds: tuple[int, int] | None,
    arrow_schema: pa.Schema,
    permissive: bool = False,
    encoding: str = "utf-8",
    offset_stride: int | None = None,
    corrupt_column: bool = False,
) -> pa.RecordBatch:
    """Decode a record-aligned chunk whose records carry a type
    discriminator: group rows by tag (one vectorized pass), decode each
    group with its own layout exactly as :func:`decode_chunk` decodes a
    single-layout chunk, null-fill union columns the tag lacks, and
    scatter groups back to file order (stable inverse permutation) — no
    per-record Python.  Unknown tags fail (failfast) or surface as
    record_type with all-null fields (permissive)."""
    mat, fmat = _record_matrices(chunk, record_length, encoding)
    n = mat.shape[0]
    t_start, t_len = type_bounds
    tags = _slice_bytes(fmat, t_start, t_len).astype(f"U{t_len}")

    known = np.isin(tags, list(layouts.keys()))
    if not bool(known.all()) and not permissive:
        bad = tags[~known][0]
        raise ValueError(
            f"fixedlen: unknown record type {bad!r} (declared: "
            f"{sorted(layouts)}); use mode=permissive to null these rows"
        )

    groups = [(np.nonzero(tags == t)[0], fields) for t, fields in layouts.items()]
    groups = [g for g in groups + [(np.nonzero(~known)[0], None)] if len(g[0])]
    cat = np.concatenate([g[0] for g in groups]) if groups else np.empty(0, dtype=np.int64)
    inv = np.empty(n, dtype=np.int64)
    inv[cat] = np.arange(n, dtype=np.int64)
    perm = pa.array(inv)

    step = offset_stride if offset_stride is not None else record_length
    cols = _lead_columns(mat, base_offset, with_offset, key_bounds, step)
    cols.append(pa.array(tags))  # record_type (post-transcode text)

    # per group: its own layout's columns by name, and its corrupt rows —
    # unknown-tag rows are corrupt outright; a known row is corrupt when
    # a field of ITS OWN layout nulled (union columns the tag lacks are
    # expected-null, never corrupt)
    decoded: list[dict[str, pa.Array]] = []
    bad_per_group: list[np.ndarray] = []
    for idx, fields in groups:
        if fields is None:
            decoded.append({})
            bad_per_group.append(np.ones(len(idx), dtype=bool))
            continue
        sub = np.ascontiguousarray(mat[idx])
        sub_txt = sub if fmat is mat else np.ascontiguousarray(fmat[idx])
        own = _decode_fields(sub, sub_txt, fields, permissive)
        decoded.append({f.name: col for f, col in zip(fields, own)})
        bad = _null_rows(own) if corrupt_column else None
        bad_per_group.append(np.zeros(len(idx), dtype=bool) if bad is None else bad)
    for f in union_fields:
        chunks = [
            d[f.name] if f.name in d else pa.nulls(len(idx), f.arrow_type())
            for (idx, _), d in zip(groups, decoded)
        ]
        cols.append(
            pa.concat_arrays(chunks).take(perm)
            if chunks
            else pa.nulls(0, f.arrow_type())
        )
    if corrupt_column:
        bad_cat = np.concatenate(bad_per_group) if groups else np.empty(0, dtype=bool)
        bad = pa.array(bad_cat).take(perm)
        raw = _slice_binary(mat, 0, record_length)
        cols.append(pc.if_else(bad, raw, pa.scalar(None, pa.binary())))
    return pa.RecordBatch.from_arrays(cols, schema=arrow_schema)
