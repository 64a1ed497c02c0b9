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

COBOL-isms supported: OCCURS via ``type[n]`` (n consecutive slots ->
array column) and REDEFINES implicitly — fields may OVERLAP byte
ranges (each decodes its own view of the shared bytes; records are
random-access so overlap costs nothing and is deliberately allowed by
validation — test_redefines_overlapping_fields asserts it).
"""

from __future__ import annotations

import codecs
import re
from dataclasses import dataclass
from functools import lru_cache

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
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

_TYPES = (
    "int", "long", "double", "string", "date",
    "packed", "zoned", "implied", "bin", "comp1", "comp2",
    "signl", "signt",  # SIGN LEADING/TRAILING SEPARATE: explicit +/- byte
    "zonedl",  # SIGN LEADING overpunch: sign in the FIRST byte's zone
    "julian",  # mainframe Julian date: YYDDD (5, windowed century) or YYYYDDD (7)
)

# fixed widths for types whose byte layout implies them
_FIXED_WIDTHS = {"comp1": 4, "comp2": 8}


@dataclass(frozen=True)
class FieldSpec:
    name: str
    start: int  # zero-based byte offset in the record
    length: int  # bytes per ELEMENT (= field width when occurs == 1)
    ftype: str  # one of _TYPES, or "double(scale)" for encode formatting
    occurs: int = 1  # COBOL OCCURS n: n consecutive elements -> array column
    depends_on: str | None = None  # OCCURS DEPENDING ON: per-row valid
    # element count comes from this earlier int/long field; `occurs`
    # is the maximum (the fixed record always reserves all slots)

    @property
    def base_type(self) -> str:
        return self.ftype.split("(")[0]

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

    def _scalar_spark_type(self) -> DataType:
        return {
            "int": IntegerType(),
            "long": LongType(),
            "double": DoubleType(),
            "string": StringType(),
            "date": DateType(),
            "julian": DateType(),  # YYDDD / YYYYDDD day-of-year date
            "packed": DoubleType(),  # COMP-3 BCD, scaled by 10^-scale
            "zoned": DoubleType(),  # PIC S9 DISPLAY, sign overpunch
            "zonedl": DoubleType(),  # PIC S9 DISPLAY SIGN LEADING overpunch
            "signl": DoubleType(),  # SIGN LEADING SEPARATE: '+'/'-' first
            "signt": DoubleType(),  # SIGN TRAILING SEPARATE: '+'/'-' last
            "implied": DoubleType(),  # PIC 9(n)V9(s): no point, implied scale
            "bin": LongType(),  # COMP-4: big-endian two's-complement binary
            "comp1": DoubleType(),  # COMP-1: BE IEEE float32, widened exactly
            "comp2": DoubleType(),  # COMP-2: BE IEEE float64
        }[self.base_type]

    def spark_type(self) -> DataType:
        if self.is_array:
            return ArrayType(self._scalar_spark_type(), True)
        return self._scalar_spark_type()

    def _scalar_arrow_type(self) -> pa.DataType:
        return {
            "int": pa.int32(),
            "long": pa.int64(),
            "double": pa.float64(),
            "string": pa.string(),
            "date": pa.date32(),
            "julian": pa.date32(),
            "packed": pa.float64(),
            "zoned": pa.float64(),
            "zonedl": pa.float64(),
            "signl": pa.float64(),
            "signt": pa.float64(),
            "implied": pa.float64(),
            "bin": pa.int64(),
            "comp1": pa.float64(),
            "comp2": pa.float64(),
        }[self.base_type]

    def arrow_type(self) -> pa.DataType:
        if self.is_array:
            return pa.list_(self._scalar_arrow_type())
        return self._scalar_arrow_type()


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
        if ftype.split("(")[0] not in _TYPES:
            raise ValueError(f"unsupported layout type {ftype!r} in {part!r}")
        if start_i < 0 or length_i <= 0:
            raise ValueError(f"bad bounds in layout field {part!r}")
        want_w = _FIXED_WIDTHS.get(ftype.split("(")[0])
        if want_w is not None and length_i != want_w:
            raise ValueError(
                f"layout field {name!r}: type {ftype!r} is exactly "
                f"{want_w} bytes, got {length_i}"
            )
        if ftype == "julian" and length_i not in (5, 7):
            raise ValueError(
                f"layout field {name!r}: julian is 5 (YYDDD) or 7 "
                f"(YYYYDDD) bytes, got {length_i}"
            )
        if start_i + length_i * occurs > record_length:
            raise ValueError(
                f"layout field {name!r} [{start_i}, {start_i + length_i * occurs}) "
                f"exceeds recordLength={record_length}"
            )
        fields.append(FieldSpec(name, start_i, length_i, ftype, occurs, depends_on))
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


# digit bounds keep the int64 parse overflow-free (18 digits < 2^63);
# '+' excluded — Arrow's string->int cast rejects it, so it's malformed
_VALID_RE = {
    "int": r"^-?[0-9]{1,18}$",
    "long": r"^-?[0-9]{1,18}$",
    "double": r"^-?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$",
    "date": r"^[0-9]{4}-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])$",
    "implied": r"^-?[0-9]{1,18}$",
    "julian": r"^[0-9]{5}([0-9]{2})?$",  # width re-checked numerically below
}

_I32_MIN, _I32_MAX = -(2**31), 2**31 - 1


def decode_packed_field(
    mat: np.ndarray, f: FieldSpec, permissive: bool = False
) -> pa.Array:
    """COBOL COMP-3 packed decimal (BCD): an L-byte field holds 2L-1
    digit nibbles followed by a sign nibble (0xC/0xF positive, 0xD
    negative), scaled by 10^-scale.  The mainframe fixed-width staple —
    and inherently BINARY, so it operates on the RAW byte matrix
    (never charset-transcoded) and only exists because records are
    fixed-length: no delimiter could survive inside BCD bytes.

    Fully vectorized: nibble-split the (n, L) slice, dot the digit
    matrix with a power-of-ten vector (int64-exact up to 18 digits),
    apply the sign nibble, scale once.  Invalid digit nibbles (>9) or
    sign nibbles fail (failfast) / null the value (permissive)."""
    sl = np.ascontiguousarray(mat[:, f.start : f.start + f.length])
    n_digits = 2 * f.length - 1
    if n_digits > 18:
        raise ValueError(
            f"packed field {f.name!r}: {n_digits} digits exceeds int64-exact 18"
        )
    hi = (sl >> 4).astype(np.int64)
    lo = (sl & 0x0F).astype(np.int64)
    digits = np.empty((sl.shape[0], 2 * f.length), dtype=np.int64)
    digits[:, 0::2] = hi
    digits[:, 1::2] = lo
    sign_nib = digits[:, -1]
    digits = digits[:, :-1]
    bad = (digits > 9).any(axis=1) | ~np.isin(sign_nib, (0xC, 0xD, 0xF))
    if bool(bad.any()) and not permissive:
        raise ValueError(
            f"fixedlen: invalid packed-decimal nibble in field {f.name!r}; "
            "use mode=permissive to null malformed values"
        )
    np.clip(digits, 0, 9, out=digits)  # keep the dot product defined for bad rows
    powers = 10 ** np.arange(n_digits - 1, -1, -1, dtype=np.int64)
    ints = digits @ powers
    ints = np.where(sign_nib == 0xD, -ints, ints)
    vals = ints / np.float64(10**f.scale)
    arr = pa.array(vals, type=pa.float64())
    if bool(bad.any()):
        arr = pc.if_else(pa.array(bad), pa.scalar(None, pa.float64()), arr)
    return arr


def encode_packed(value, f: FieldSpec) -> bytes:
    """Encode a number as COMP-3 packed decimal (inverse of
    decode_packed_field; sign nibble 0xC positive / 0xD negative)."""
    if value is None:
        raise ValueError(f"fixed-width field {f.name} cannot encode NULL")
    n_digits = 2 * f.length - 1
    scaled = round(float(value) * (10**f.scale))
    digits = f"{abs(scaled):0{n_digits}d}"
    if len(digits) > n_digits:
        raise ValueError(
            f"value {value!r} does not fit packed field {f.name} "
            f"({n_digits} digits)"
        )
    nibbles = [int(c) for c in digits] + [0xD if scaled < 0 else 0xC]
    return bytes(
        (nibbles[i] << 4) | nibbles[i + 1] for i in range(0, len(nibbles), 2)
    )


def decode_field(mat: np.ndarray, f: FieldSpec, permissive: bool = False) -> pa.Array:
    """Vectorized decode of one field column from the record matrix.

    permissive=True nulls malformed values instead of the default
    failfast error — the reference has no notion of malformed fields
    because it never decodes any (FixedLengthInputFormat.java:38-43).
    Robustness order matters: non-printable/non-ASCII bytes are blanked
    BEFORE the UTF-8 cast (a raw 0xFF would otherwise fail the whole
    task), then the regex mask nulls non-numeric text, then int32 gets a
    range check (Arrow's cast raises on overflow).
    """
    sl = np.ascontiguousarray(mat[:, f.start : f.start + f.length])
    bad_bytes = None
    if permissive:
        ok = ((sl >= 0x20) & (sl <= 0x7E)).all(axis=1)  # printable ASCII only
        if not bool(ok.all()):
            bad_bytes = pa.array(~ok)
            sl = sl.copy()
            sl[~ok] = 0x20  # spaces -> rtrim/regex turn them into null below
    raw = pa.array(sl.view(f"S{f.length}").ravel())
    s = pc.cast(raw, pa.string())
    base = f.base_type
    if base == "string":
        # values are right-padded with spaces (FixedLengthInputFormat.java:42-43)
        out = pc.utf8_rtrim(s, characters=" ")
        if bad_bytes is not None:
            out = pc.if_else(bad_bytes, pa.scalar(None, pa.string()), out)
        return out
    trimmed = pc.utf8_trim(s, characters=" ")
    if permissive:
        mask = pc.match_substring_regex(trimmed, _VALID_RE[base])
        trimmed = pc.if_else(mask, trimmed, pa.scalar(None, pa.string()))
    if base in ("int", "long"):
        if permissive:
            # regex bounds digits to 18 => the int64 parse cannot raise
            v64 = pc.cast(trimmed, pa.int64())
            if base == "long":
                return v64
            in_range = pc.and_kleene(
                pc.greater_equal(v64, _I32_MIN), pc.less_equal(v64, _I32_MAX)
            )
            v64 = pc.if_else(
                pc.fill_null(in_range, False), v64, pa.scalar(None, pa.int64())
            )
            return pc.cast(v64, pa.int32())
        # failfast: Arrow raises on garbage, '+' signs, and overflow
        return pc.cast(trimmed, f.arrow_type())
    if base == "implied":
        # COBOL PIC 9(n)V9(s): digits only, decimal point implied at
        # ``scale`` places — parse int64-exact, scale once
        ints = pc.cast(trimmed, pa.int64())
        return pc.divide(
            pc.cast(ints, pa.float64()), pa.scalar(float(10**f.scale))
        )
    if base == "double":
        return pc.cast(trimmed, pa.float64())
    if base == "julian":
        # mainframe Julian date: YYDDD (windowed century: YY >= 70 ->
        # 19YY else 20YY, the classic COBOL Y2K window) or YYYYDDD.
        # Decoded by explicit day-of-year arithmetic (portable across
        # Arrow strptime %j quirks): epoch_day(Jan 1, year) + DDD - 1,
        # with DDD validated against the year's real length.
        w = f.length
        year_s = pc.utf8_slice_codeunits(trimmed, 0, w - 3)
        ddd_s = pc.utf8_slice_codeunits(trimmed, w - 3, w)
        # exact-width check in BOTH modes: an under-width digit run
        # (e.g. '1234' in a 5-byte field) would otherwise silently
        # mis-slice into (year='1', ddd='234') instead of honoring
        # the failfast contract every other numeric branch keeps
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
                    pc.subtract(year, pc.multiply(pc.divide(year, 100), 100)),
                    0,
                ),
            ),
            pc.equal(
                pc.subtract(year, pc.multiply(pc.divide(year, 400), 400)), 0
            ),
        )
        max_ddd = pc.add(pa.scalar(365, pa.int32()), pc.cast(leap, pa.int32()))
        bad = pc.and_kleene(
            pc.is_valid(ddd),
            pc.or_kleene(
                pc.less(ddd, 1), pc.greater(ddd, max_ddd)
            ),
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
    if base == "date":
        ts = pc.strptime(trimmed, format="%Y-%m-%d", unit="s")
        # Arrow strptime silently ROLLS OVER calendar-invalid dates
        # (2021-04-31 -> 2021-05-01); round-trip to catch them
        back = pc.strftime(ts, format="%Y-%m-%d")
        bad = pc.and_kleene(
            pc.invert(pc.equal(back, trimmed)), pc.is_valid(trimmed)
        )
        if pc.any(bad).as_py():
            if not permissive:
                raise ValueError(
                    f"fixedlen: calendar-invalid date in field {f.name!r} "
                    f"(e.g. {trimmed.filter(bad)[0].as_py()!r}); "
                    "use mode=permissive to null malformed values"
                )
            ts = pc.if_else(bad, pa.scalar(None, ts.type), ts)
        return pc.cast(ts, pa.date32())
    raise AssertionError(f"unreachable type {f.ftype}")


def _decode_scalar(
    mat: np.ndarray, fmat: np.ndarray, f: FieldSpec, permissive: bool
) -> pa.Array:
    """Dispatch one SCALAR field to its decoder (binary types read the
    raw matrix; text types the charset-transcoded one)."""
    if f.base_type == "packed":
        return decode_packed_field(mat, f, permissive=permissive)
    if f.base_type == "zoned":
        return decode_zoned_field(mat, f, permissive=permissive)
    if f.base_type == "zonedl":
        return decode_zoned_field(mat, f, permissive=permissive, leading=True)
    if f.base_type in ("signl", "signt"):
        return decode_signsep_field(
            fmat, f, leading=f.base_type == "signl", permissive=permissive
        )
    if f.base_type == "bin":
        return decode_bin_field(mat, f)
    if f.base_type in ("comp1", "comp2"):
        return decode_float_field(mat, f)
    return decode_field(fmat, f, permissive=permissive)


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
    ListArray of fixed length n per row.  The interleave is a single
    Arrow take() with computed indices — O(rows x n) pointer moves,
    no value re-parsing.

    ``counts`` (OCCURS DEPENDING ON) trims each row's list to the
    counter field's value: the record still reserves all n slots (fixed
    LRECL), only the first count are data.  A counter that is null /
    negative / > n is corruption: failfast raises, permissive nulls the
    whole list (the quarantine convention)."""
    n_elem = f.occurs
    slots = [
        _decode_scalar(mat, fmat, f.element(i), permissive)
        for i in range(n_elem)
    ]
    n_rows = len(slots[0])
    # slot-major concat -> row-major order via take(): element j of row i
    # sits at slot-array j position i, i.e. concat index j*n_rows + i
    values = pa.concat_arrays([s.combine_chunks() if isinstance(s, pa.ChunkedArray) else s for s in slots])
    idx = (
        np.arange(n_elem, dtype=np.int64)[None, :] * n_rows
        + np.arange(n_rows, dtype=np.int64)[:, None]
    ).ravel()
    row_major = values.take(pa.array(idx))
    if counts is None:
        offsets = pa.array(
            np.arange(0, (n_rows + 1) * n_elem, n_elem, dtype=np.int32)
        )
        return pa.ListArray.from_arrays(offsets, row_major)
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
    offsets = np.concatenate(
        [[0], np.cumsum(lengths)]
    ).astype(np.int64)
    starts = np.arange(n_rows, dtype=np.int64) * n_elem
    pos_in_row = np.arange(offsets[-1], dtype=np.int64) - np.repeat(
        offsets[:-1], lengths
    )
    taken = row_major.take(pa.array(np.repeat(starts, lengths) + pos_in_row))
    if bad.any():  # permissive: null list per corrupt counter
        off_list = [None if i < n_rows and bad[i] else int(o)
                    for i, o in enumerate(offsets)]
        return pa.ListArray.from_arrays(
            pa.array(off_list, type=pa.int32()), taken
        )
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), taken
    )


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
    n = len(chunk) // record_length
    mat = np.frombuffer(chunk, dtype=np.uint8).reshape(n, record_length)
    tbl = transcode_table(encoding)
    fmat = mat if tbl is None else tbl[mat]
    cols: list[pa.Array] = []
    if with_offset:
        # file-global byte offset — the reference's default key
        # (FixedLengthRecordReader.java:256-260), decoded from its 8-byte
        # big-endian convention to a plain long column.
        step = offset_stride if offset_stride is not None else record_length
        offs = base_offset + np.arange(n, dtype=np.int64) * step
        cols.append(pa.array(offs, type=pa.int64()))
    if key_bounds is not None:
        start, end = key_bounds  # zero-based inclusive (FLIF:100-149)
        cols.append(_slice_binary(mat, start, end - start + 1))
    if fields is None:
        cols.append(_slice_binary(mat, 0, record_length))
    else:
        scalar_cache: dict[str, pa.Array] = {}
        for f in fields:
            if f.is_array:
                counts = (
                    scalar_cache[f.depends_on] if f.depends_on else None
                )
                cols.append(
                    decode_occurs_field(mat, fmat, f, permissive, counts)
                )
            else:
                # binary types (packed BCD etc.) read the RAW matrix
                arr = _decode_scalar(mat, fmat, f, permissive)
                scalar_cache[f.name] = arr
                cols.append(arr)
        if corrupt_column:
            # fixed-width fields cannot be legitimately null (the writer
            # rejects None), so under permissive decode a null ANYWHERE
            # in a row means a malformed field — capture that row's raw
            # bytes, parquet-reader-style _corrupt_record
            bad = None
            for col in cols[len(cols) - len(fields):]:
                if pa.types.is_list(col.type):
                    # OCCURS: element-level nulls -> any-per-row; ODO
                    # lists are variable-length and can themselves be
                    # null (corrupt counter), so walk the offsets
                    # instead of reshaping
                    if col.values.null_count == 0 and col.null_count == 0:
                        continue
                    el_null = np.asarray(pc.is_null(col.values))
                    offs = np.asarray(col.offsets.fill_null(0))
                    cs = np.concatenate([[0], np.cumsum(el_null)])
                    anyel = cs[offs[1:]] - cs[offs[:-1]] > 0
                    lst_null = (
                        np.asarray(pc.is_null(col))
                        if col.null_count
                        else np.zeros(n, dtype=bool)
                    )
                    m = pa.array(anyel | lst_null)
                else:
                    if col.null_count == 0:
                        continue
                    m = pc.is_null(col)
                bad = m if bad is None else pc.or_(bad, m)
            raw = _slice_binary(mat, 0, record_length)
            if bad is None:
                corrupt = pa.nulls(n, pa.binary())
            else:
                corrupt = pc.if_else(bad, raw, pa.scalar(None, pa.binary()))
            cols.append(corrupt)
    return pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


def decode_framed(
    offsets: list[int],
    prefixes: bytearray,
    tails: list[bytes],
    *,
    prefix_length: int,
    fields: list[FieldSpec] | None,
    layout_arrow: pa.Schema | None,
    arrow_schema: pa.Schema,
    encoding: str,
    with_offset: bool,
    with_tail: bool,
    files: list[int] | None = None,
) -> pa.RecordBatch:
    """One Arrow batch of framed records (the varlen and awstape readers)
    from the per-record pieces a read loop collected: ``offsets``, the
    concatenated fixed ``prefixes`` (``prefix_length`` bytes each) and
    the variable ``tails``.  With no layout, ``tails`` holds each whole
    payload and becomes the ``value`` column.

    Column order matches ``arrow_schema``: [``tape_file`` from ``files``]
    [``record_offset``?] then ``value``, or the layout columns decoded
    by :func:`decode_chunk` and the tail column (``with_tail``).  A
    reader of whole fixed-length records (awstape's recfm=F) passes them
    as ``prefixes`` with ``with_tail=False``."""
    cols: list[pa.Array] = []
    if files is not None:
        cols.append(pa.array(files, type=pa.int32()))
    if with_offset:
        cols.append(pa.array(offsets, type=pa.int64()))
    if fields is None:
        cols.append(pa.array(tails, type=pa.binary()))
    else:
        layout_batch = decode_chunk(
            bytes(prefixes), prefix_length, fields, 0, False, None,
            layout_arrow, encoding=encoding,
        )
        cols.extend(layout_batch.columns)
        if with_tail:
            cols.append(pa.array(tails, type=pa.binary()))
    return pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


def encode_framed(
    row,
    fields: list[FieldSpec] | None,
    prefix_length: int,
    *,
    encoding: str,
    tail_column: str | None,
) -> bytes:
    """One record's payload for a framed sink (varlen, awstape), the
    inverse of :func:`decode_framed`: the raw ``value`` column with no
    layout, else the encoded prefix followed by ``tail_column`` (None:
    no tail; a NULL tail is empty, a string tail is UTF-8)."""
    if fields is None:
        return bytes(row["value"])
    d = row.asDict()
    prefix = encode_rows([d], fields, prefix_length, encoding=encoding)
    tail = d.get(tail_column) if tail_column is not None else None
    if tail is None:
        return prefix
    if isinstance(tail, str):
        return prefix + tail.encode("utf-8")
    return prefix + bytes(tail)


# ---------------------------------------------------------------------------
# Encode (fixture generation + the fixedlen sink)


def format_value(v, f: FieldSpec) -> str:
    if v is None:
        raise ValueError(f"fixed-width field {f.name} cannot encode NULL")
    base = f.base_type
    if base in ("int", "long"):
        s = f"{int(v):0{f.length}d}"
    elif base == "implied":
        s = f"{round(float(v) * (10 ** f.scale)):0{f.length}d}"
    elif base == "double":
        s = f"{float(v):0{f.length}.{f.scale}f}"
    elif base == "date":
        s = v.strftime("%Y-%m-%d") if hasattr(v, "strftime") else str(v)[:10]
        s = s.ljust(f.length)
    elif base == "julian":
        import datetime as _dt

        d = (
            v
            if hasattr(v, "timetuple")
            else _dt.date.fromisoformat(str(v)[:10])
        )
        doy = d.timetuple().tm_yday
        if f.length == 5:
            if not (1970 <= d.year <= 2069):
                raise ValueError(
                    f"year {d.year} outside the YYDDD century window "
                    f"(1970-2069) for field {f.name}"
                )
            s = f"{d.year % 100:02d}{doy:03d}"
        else:
            s = f"{d.year:04d}{doy:03d}"
    else:
        s = str(v).ljust(f.length)
    if len(s) > f.length:
        raise ValueError(
            f"value {v!r} does not fit field {f.name} (width {f.length})"
        )
    return s


def encode_rows(
    rows,
    fields: list[FieldSpec],
    record_length: int,
    encoding: str = "utf-8",
) -> bytes:
    """Encode an iterable of dict-like rows to back-to-back fixed-width
    records — no delimiters, no newlines (FixedLengthInputFormat.java:38-43).
    ``encoding`` produces single-byte charset output (e.g. EBCDIC cp037)
    symmetric with the reader's decode transcoding; ``packed`` fields
    emit raw BCD bytes untouched by the charset."""
    pad = " ".encode(encoding)
    out = bytearray()
    def enc_scalar(v, f: FieldSpec) -> bytes:
        if f.base_type == "packed":
            b = encode_packed(v, f)
        elif f.base_type == "zoned":
            b = encode_zoned(v, f)
        elif f.base_type == "zonedl":
            b = encode_zoned(v, f, leading=True)
        elif f.base_type in ("signl", "signt"):
            b = encode_signsep(v, f, f.base_type == "signl").encode(encoding)
        elif f.base_type == "bin":
            b = encode_bin(v, f)
        elif f.base_type in ("comp1", "comp2"):
            b = encode_float(v, f)
        else:
            b = format_value(v, f).encode(encoding)
        if len(b) != f.length:
            raise ValueError(
                f"encoded field {f.name} is {len(b)} bytes, expected "
                f"{f.length} (non-ASCII content in a string field?)"
            )
        return b

    for row in rows:
        rec = bytearray(pad * record_length)
        for f in fields:
            if f.is_array:
                vals = row[f.name]
                if f.depends_on is not None:
                    # ODO: up to `occurs` data elements; unused slots are
                    # zero/blank filler (the record reserves them all)
                    if vals is None or len(vals) > f.occurs:
                        raise ValueError(
                            f"OCCURS DEPENDING ON field {f.name} takes at "
                            f"most {f.occurs} elements, got {vals!r}"
                        )
                    filler = 0 if f.base_type != "string" else ""
                    vals = list(vals) + [filler] * (f.occurs - len(vals))
                elif vals is None or len(vals) != f.occurs:
                    raise ValueError(
                        f"OCCURS field {f.name} needs exactly {f.occurs} "
                        f"elements, got {vals!r}"
                    )
                b = b"".join(enc_scalar(v, f.element(i)) for i, v in enumerate(vals))
            else:
                b = enc_scalar(row[f.name], f)
            rec[f.start : f.start + f.span] = b
        out += rec
    return bytes(out)


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
    seen: dict[str, tuple[str, int]] = {}
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
            if f.name in seen:
                if seen[f.name] != (f.base_type, f.occurs):
                    raise ValueError(
                        f"multitype: field {f.name!r} has conflicting types "
                        f"{seen[f.name]!r} vs {(f.base_type, f.occurs)!r} "
                        "across tags"
                    )
            else:
                seen[f.name] = (f.base_type, f.occurs)
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
    group with its own layout, null-fill union columns the tag lacks,
    and scatter groups back to file order (stable inverse permutation) —
    no per-record Python.  Unknown tags fail (failfast) or surface as
    record_type with all-null fields (permissive)."""
    n = len(chunk) // record_length
    mat = np.frombuffer(chunk, dtype=np.uint8).reshape(n, record_length)
    tbl = transcode_table(encoding)
    fmat = mat if tbl is None else tbl[mat]
    t_start, t_len = type_bounds
    tags = _slice_bytes(fmat, t_start, t_len).astype(f"U{t_len}")

    known = np.isin(tags, list(layouts.keys()))
    if not bool(known.all()) and not permissive:
        bad = tags[~known][0]
        raise ValueError(
            f"fixedlen: unknown record type {bad!r} (declared: "
            f"{sorted(layouts)}); use mode=permissive to null these rows"
        )

    groups: list[tuple[np.ndarray, list[FieldSpec] | None]] = []
    for tag, fields in layouts.items():
        idx = np.nonzero(tags == tag)[0]
        if len(idx):
            groups.append((idx, fields))
    unk = np.nonzero(~known)[0]
    if len(unk):
        groups.append((unk, None))

    cat = (
        np.concatenate([g[0] for g in groups])
        if groups
        else np.empty(0, dtype=np.int64)
    )
    inv = np.empty(n, dtype=np.int64)
    inv[cat] = np.arange(n, dtype=np.int64)
    perm = pa.array(inv)

    cols: list[pa.Array] = []
    if with_offset:
        step = offset_stride if offset_stride is not None else record_length
        offs = base_offset + np.arange(n, dtype=np.int64) * step
        cols.append(pa.array(offs, type=pa.int64()))
    if key_bounds is not None:
        start, end = key_bounds
        cols.append(_slice_binary(mat, start, end - start + 1))
    cols.append(pa.array(tags))  # record_type (post-transcode text)

    # corrupt tracking: unknown-tag rows are corrupt outright; a known
    # row is corrupt when a field of ITS OWN layout nulled (union
    # columns the tag lacks are expected-null, never corrupt)
    bad_per_group = [
        np.zeros(len(idx), dtype=bool)
        if fields is not None
        else np.ones(len(idx), dtype=bool)
        for idx, fields in groups
    ]
    for f in union_fields:
        chunks: list[pa.Array] = []
        for gi, (idx, fields) in enumerate(groups):
            present = fields is not None and any(
                g.name == f.name for g in fields
            )
            if present:
                sub_raw = np.ascontiguousarray(mat[idx])
                sub_txt = np.ascontiguousarray(fmat[idx])
                if f.occurs > 1:
                    arr = decode_occurs_field(sub_raw, sub_txt, f, permissive)
                    if corrupt_column and arr.values.null_count:
                        el = np.asarray(pc.is_null(arr.values))
                        bad_per_group[gi] |= el.reshape(len(idx), -1).any(axis=1)
                else:
                    arr = _decode_scalar(sub_raw, sub_txt, f, permissive)
                    if corrupt_column and arr.null_count:
                        bad_per_group[gi] |= np.asarray(
                            pc.is_null(arr).fill_null(True)
                        )
                chunks.append(arr)
            else:
                chunks.append(pa.nulls(len(idx), f.arrow_type()))
        col = (
            pa.concat_arrays(chunks).take(perm)
            if chunks
            else pa.nulls(0, f.arrow_type())
        )
        cols.append(col)
    if corrupt_column:
        bad_cat = (
            np.concatenate(bad_per_group)
            if bad_per_group
            else np.empty(0, dtype=bool)
        )
        bad = pa.array(bad_cat).take(perm)
        raw = _slice_binary(mat, 0, record_length)
        cols.append(pc.if_else(bad, raw, pa.scalar(None, pa.binary())))
    return pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


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
    n_digits = f.length
    if n_digits > 18:
        raise ValueError(
            f"zoned field {f.name!r}: {n_digits} digits exceeds int64-exact 18"
        )
    zones = (sl >> 4).astype(np.int64)
    digits = (sl & 0x0F).astype(np.int64)
    sign_zone = zones[:, 0] if leading else zones[:, -1]
    plain_zones = zones[:, 1:] if leading else zones[:, :-1]
    bad = (
        (digits > 9).any(axis=1)
        | (plain_zones != 0xF).any(axis=1)
        | ~np.isin(sign_zone, (0xC, 0xD, 0xF))
    )
    if bool(bad.any()) and not permissive:
        raise ValueError(
            f"fixedlen: invalid zoned-decimal byte in field {f.name!r}; "
            "use mode=permissive to null malformed values"
        )
    np.clip(digits, 0, 9, out=digits)
    powers = 10 ** np.arange(n_digits - 1, -1, -1, dtype=np.int64)
    ints = digits @ powers
    ints = np.where(sign_zone == 0xD, -ints, ints)
    vals = ints / np.float64(10**f.scale)
    arr = pa.array(vals, type=pa.float64())
    if bool(bad.any()):
        arr = pc.if_else(pa.array(bad), pa.scalar(None, pa.float64()), arr)
    return arr


def decode_signsep_field(
    fmat: np.ndarray, f: FieldSpec, leading: bool, permissive: bool = False
) -> pa.Array:
    """COBOL SIGN LEADING/TRAILING SEPARATE (PIC S9(n)[V9(m)] DISPLAY
    SIGN ... SEPARATE): an explicit '+'/'-' character byte before/after
    the digit run.  Decodes the TRANSCODED matrix (charset digits, like
    int/implied), vectorized."""
    sl = np.ascontiguousarray(fmat[:, f.start : f.start + f.length])
    n_digits = f.length - 1
    if n_digits < 1:
        raise ValueError(
            f"sign-separate field {f.name!r} needs >= 2 bytes (sign + digit)"
        )
    if n_digits > 18:
        raise ValueError(
            f"sign-separate field {f.name!r}: {n_digits} digits exceeds "
            "int64-exact 18"
        )
    sign = sl[:, 0] if leading else sl[:, -1]
    digit_bytes = sl[:, 1:] if leading else sl[:, :-1]
    d = digit_bytes.astype(np.int64) - ord("0")
    bad = ((d < 0) | (d > 9)).any(axis=1) | ~np.isin(
        sign, (ord("+"), ord("-"))
    )
    if bool(bad.any()) and not permissive:
        raise ValueError(
            f"fixedlen: invalid sign-separate byte in field {f.name!r}; "
            "use mode=permissive to null malformed values"
        )
    np.clip(d, 0, 9, out=d)
    powers = 10 ** np.arange(n_digits - 1, -1, -1, dtype=np.int64)
    ints = d @ powers
    ints = np.where(sign == ord("-"), -ints, ints)
    vals = ints / np.float64(10**f.scale)
    arr = pa.array(vals, type=pa.float64())
    if bool(bad.any()):
        arr = pc.if_else(pa.array(bad), pa.scalar(None, pa.float64()), arr)
    return arr


def encode_signsep(value, f: FieldSpec, leading: bool) -> str:
    """Inverse of decode_signsep_field (charset-encoded by the caller)."""
    if value is None:
        raise ValueError(f"fixed-width field {f.name} cannot encode NULL")
    scaled = round(float(value) * (10**f.scale))
    digits = f"{abs(scaled):0{f.length - 1}d}"
    if len(digits) > f.length - 1:
        raise ValueError(
            f"value {value!r} does not fit sign-separate field {f.name} "
            f"({f.length - 1} digits)"
        )
    sign = "-" if scaled < 0 else "+"
    return sign + digits if leading else digits + sign


def encode_zoned(value, f: FieldSpec, leading: bool = False) -> bytes:
    """Encode a number as EBCDIC zoned decimal (inverse of
    decode_zoned_field; sign overpunched in the last byte's zone, or
    the first byte's under ``leading=True``)."""
    if value is None:
        raise ValueError(f"fixed-width field {f.name} cannot encode NULL")
    scaled = round(float(value) * (10**f.scale))
    digits = f"{abs(scaled):0{f.length}d}"
    if len(digits) > f.length:
        raise ValueError(
            f"value {value!r} does not fit zoned field {f.name} "
            f"({f.length} digits)"
        )
    out = bytearray(0xF0 | int(c) for c in digits)
    at = 0 if leading else -1
    out[at] = (0xD0 if scaled < 0 else 0xC0) | int(digits[at])
    return bytes(out)


def decode_bin_field(mat: np.ndarray, f: FieldSpec) -> pa.Array:
    """Big-endian two's-complement binary integer (COBOL COMP-4 /
    BINARY; widths 1/2/4/8) — the exact convention the reference uses
    for its offset key (FixedLengthRecordReader.java:270-278, mirrored
    by the test helper toLong, TestFixedLengthInputFormat.java:490-505).
    Decode is a zero-copy numpy big-endian view; binary, so it reads the
    RAW matrix.  No malformed state exists: every bit pattern is a
    value, so mode has no effect."""
    if f.length not in (1, 2, 4, 8):
        raise ValueError(
            f"bin field {f.name!r}: width must be 1/2/4/8, got {f.length}"
        )
    sl = np.ascontiguousarray(mat[:, f.start : f.start + f.length])
    vals = sl.view(f">i{f.length}").ravel().astype(np.int64)
    return pa.array(vals, type=pa.int64())


def decode_float_field(mat: np.ndarray, f: FieldSpec) -> pa.Array:
    """Big-endian IEEE-754 float (COBOL COMP-1 single / COMP-2 double).
    COMP-1 widens to float64 exactly (every float32 is representable);
    like ``bin``, every bit pattern is a value (NaNs/infinities pass
    through), so mode has no effect and the RAW matrix is read."""
    sl = np.ascontiguousarray(mat[:, f.start : f.start + f.length])
    vals = sl.view(f">f{f.length}").ravel().astype(np.float64)
    return pa.array(vals, type=pa.float64())


def encode_float(value, f: FieldSpec) -> bytes:
    """Encode big-endian IEEE float (COMP-1 rounds to nearest-even
    float32 — the same rounding every engine's double->float cast
    performs, so round-trips are cross-engine deterministic)."""
    import struct as _struct

    if value is None:
        raise ValueError(f"fixed-width field {f.name} cannot encode NULL")
    return _struct.pack(">f" if f.base_type == "comp1" else ">d", float(value))


def encode_bin(value, f: FieldSpec) -> bytes:
    """Encode an integer as big-endian two's-complement (COMP-4)."""
    if value is None:
        raise ValueError(f"fixed-width field {f.name} cannot encode NULL")
    try:
        return int(value).to_bytes(f.length, "big", signed=True)
    except OverflowError:
        raise ValueError(
            f"value {value!r} does not fit bin field {f.name} "
            f"({f.length} bytes signed)"
        )
