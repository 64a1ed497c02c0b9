"""Property test: randomized multi-record-type files round-trip.

Mirrors the reference's seeded-random strategy (TestFixedLengthInputFormat
TEST:183-345) for the layouts dispatch: random record length, random
per-tag layouts whose field types come from the layout type table (tag A
also carries an OCCURS DEPENDING ON field and its counter), random
interleaving — decode must reproduce every field, null the other types'
columns, and preserve file order."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from test_field_types import _bits, typed_field

from hadoop_fixedlengthinputformat_spark.sources import fixedlen
from hadoop_fixedlengthinputformat_spark.sources.layout import (
    FieldSpec,
    encode_rows,
    parse_layout,
)

TAGS = ("A", "B", "C")


def _spec(f: FieldSpec) -> str:
    suffix = f"[{f.occurs}->{f.depends_on}]" if f.depends_on else ""
    return f"{f.name}:{f.start}:{f.length}:{f.ftype}{suffix}"


@st.composite
def multitype_spec(draw):
    # record: tag byte at 0, then up to 3 table-typed fields per tag laid
    # out left-to-right at widths their rules allow (no overlaps within
    # a tag); tag A starts with a counter and an ODO field
    mode = draw(st.sampled_from(["failfast", "permissive"]))
    n_tags = draw(st.integers(min_value=1, max_value=3))
    layouts: dict[str, list[FieldSpec]] = {}
    values = {}
    for t in TAGS[:n_tags]:
        pos = 1
        fields = []
        if t == "A":
            odo, values["odoA"] = draw(typed_field(
                "odoA", 2, None, draw(st.integers(1, 3)), "cntA"
            ))
            fields += [FieldSpec("cntA", 1, 1, "int"), odo]
            pos = 2 + odo.span
        for i in range(draw(st.integers(min_value=1, max_value=3))):
            f, values[f"f{t}{i}"] = draw(typed_field(f"f{t}{i}", pos))
            fields.append(f)
            pos += f.span
        layouts[t] = fields
    rl = max(f.start + f.span for fs in layouts.values() for f in fs)
    rl += draw(st.integers(min_value=0, max_value=4))
    rows = []
    for _ in range(draw(st.integers(min_value=1, max_value=30))):
        t = draw(st.sampled_from(sorted(layouts)))
        vals = {}
        for f in layouts[t]:
            if f.depends_on:
                n = draw(st.integers(0, f.occurs))
                vals[f.depends_on] = n
                vals[f.name] = [values[f.name](draw, f.element(i)) for i in range(n)]
            elif f.name in values:
                vals[f.name] = values[f.name](draw, f)
        rows.append((t, vals))
    subs = {t: ",".join(_spec(f) for f in fs) for t, fs in layouts.items()}
    return rl, subs, rows, mode


@settings(max_examples=15, deadline=None)
@given(multitype_spec())
def test_multitype_round_trip(spark, spec):
    import tempfile

    tmpdir = tempfile.mkdtemp(prefix="flif_mt_prop")
    rl, layouts, rows, mode = spec
    payload = bytearray()
    for t, vals in rows:
        fields = parse_layout(f"rt:0:1:string,{layouts[t]}", rl)
        payload += encode_rows([{"rt": t, **vals}], fields, rl)
    path = f"{tmpdir}/mt-{rl}-{len(rows)}-{abs(hash(str(rows))) % 10**8}.fixed"
    with open(path, "wb") as f:
        f.write(bytes(payload))

    fixedlen.register(spark)
    spec_str = ";".join(f"{t}={sub}" for t, sub in sorted(layouts.items()))
    got = (
        spark.read.format("fixedlen")
        .option("recordLength", str(rl))
        .option("layouts", spec_str)
        .option("typeStart", "0")
        .option("typeLen", "1")
        .option("mode", mode)
        .load(path)
        .orderBy("record_offset")
        .collect()
    )
    assert len(got) == len(rows)
    union_names = [
        part.split(":")[0]
        for t in sorted(layouts)
        for part in layouts[t].split(",")
    ]
    for out, (t, vals) in zip(got, rows):
        assert out.record_type == t
        for name in union_names:
            if name in vals:
                # bit-exact, so that a NaN drawn for a double compares equal
                assert _bits(out[name]) == _bits(vals[name]), (name, out[name], vals[name])
            else:
                assert out[name] is None
