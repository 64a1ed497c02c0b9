"""Multi-record-type dispatch: union decode, file-order scatter, unknown
tags, and spec validation."""

from __future__ import annotations

import pytest

from hadoop_fixedlengthinputformat_spark.sources import fixedlen
from hadoop_fixedlengthinputformat_spark.sources.multitype_queries import (
    LAYOUTS_OPT,
    RECORD_LENGTH,
    multitype_file_for,
)

SF = "/root/testdata/sf0.001"


def _reader(spark, path):
    fixedlen.register(spark)
    return (
        spark.read.format("fixedlen")
        .option("recordLength", str(RECORD_LENGTH))
        .option("layouts", LAYOUTS_OPT)
        .option("typeStart", "0")
        .option("typeLen", "1")
        .load(path)
    )


def test_multitype_union_decode_and_order(spark):
    path = multitype_file_for(SF)
    rows = _reader(spark, path).orderBy("record_offset").collect()
    # fixture alternates N/R while both lists last
    assert rows[0].record_type == "N" and rows[1].record_type == "R"
    n = [r for r in rows if r.record_type == "N"]
    r = [r for r in rows if r.record_type == "R"]
    assert len(n) == 25 and len(r) == 5
    # union columns: own fields set, other type's fields null
    assert n[0].n_name.startswith("NATION") and n[0].r_name is None
    assert r[0].r_name in ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    assert r[0].n_nationkey is None and r[0].r_regionkey is not None


def test_multitype_unknown_tag_failfast_and_permissive(spark, tmp_path):
    src = open(multitype_file_for(SF), "rb").read()
    # corrupt the second record's tag
    bad = bytearray(src)
    bad[RECORD_LENGTH] = ord("X")
    p = tmp_path / "bad.fixed"
    p.write_bytes(bytes(bad))
    with pytest.raises(Exception, match="unknown record type"):
        _reader(spark, str(p)).collect()
    perm = (
        spark.read.format("fixedlen")
        .option("recordLength", str(RECORD_LENGTH))
        .option("layouts", LAYOUTS_OPT)
        .option("typeStart", "0")
        .option("typeLen", "1")
        .option("mode", "permissive")
        .load(str(p))
        .orderBy("record_offset")
        .collect()
    )
    assert perm[1].record_type == "X"
    assert perm[1].n_nationkey is None and perm[1].r_name is None


def test_multitype_spec_validation(spark):
    fixedlen.register(spark)
    path = multitype_file_for(SF)
    def base():
        # fresh reader per probe: DataFrameReader accumulates options
        return spark.read.format("fixedlen").option(
            "recordLength", str(RECORD_LENGTH)
        )

    with pytest.raises(Exception, match="mutually exclusive"):
        base().option("layouts", LAYOUTS_OPT).option(
            "layout", "a:0:5:int"
        ).load(path).count()
    with pytest.raises(Exception, match="conflicting types"):
        base().option(
            "layouts", "N=k:1:5:int;R=k:1:5:string"
        ).load(path).count()
    with pytest.raises(Exception, match="length != typeLen"):
        base().option("layouts", "NX=k:1:5:int").load(path).count()


def test_multitype_partitioned_stream(spark, tmp_path):
    """layouts + partitionedStream: the executor-parallel stream path
    delegates to the batch decode, so header/detail files can be tailed
    too; the driver-side simple reader rejects layouts with a pointer."""
    import pytest as _pytest

    path = multitype_file_for(SF)
    fixedlen.register(spark)
    q = (
        spark.readStream.format("fixedlen")
        .option("recordLength", str(RECORD_LENGTH))
        .option("layouts", LAYOUTS_OPT)
        .option("typeStart", "0")
        .option("typeLen", "1")
        .option("partitionedStream", "true")
        .load(path)
        .writeStream.format("memory")
        .queryName("mt_tail")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT record_type, count(*) c FROM mt_tail GROUP BY 1").collect()
    got = {r.record_type: r.c for r in rows}
    assert got == {"N": 25, "R": 5}

    with _pytest.raises(Exception, match="partitionedStream"):
        (
            spark.readStream.format("fixedlen")
            .option("recordLength", str(RECORD_LENGTH))
            .option("layouts", LAYOUTS_OPT)
            .load(path)
            .writeStream.format("memory")
            .queryName("mt_tail2")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def test_multitype_corrupt_column_unknown_tag_and_bad_field(spark, tmp_path):
    """With layouts: unknown-tag rows and known rows whose OWN fields
    fail decode are corrupt; union columns a tag lacks stay
    expected-null and never mark corruption."""
    import os

    from hadoop_fixedlengthinputformat_spark.sources import fixedlen

    fixedlen.register(spark)
    recs = (
        b"N00001alpha    " +  # good N
        b"N00x02beta     " +  # bad int in N's own field
        b"X00003gamma    " +  # unknown tag
        b"R99    delta    "[:15]  # good R (different field set)
    )
    path = os.path.join(str(tmp_path), "mt.bin")
    with open(path, "wb") as f:
        f.write(recs)
    df = (
        spark.read.format("fixedlen")
        .option("recordLength", "15")
        .option("layouts", "N=nk:1:5:int,nm:6:9:string;R=rk:1:2:int,rv:7:6:string")
        .option("typeStart", "0").option("typeLen", "1")
        .option("mode", "permissive")
        .option("corruptRecordColumn", "_bad")
        .option("includeOffset", "true")
        .load(path)
    )
    rows = sorted(df.collect(), key=lambda r: r.record_offset)
    assert rows[0].record_type == "N" and rows[0]._bad is None and rows[0].nk == 1
    assert rows[1].record_type == "N" and rows[1].nk is None
    assert bytes(rows[1]._bad) == b"N00x02beta     "
    assert rows[2].record_type == "X" and bytes(rows[2]._bad).startswith(b"X")
    # R row: nk/nm are union-nulls (expected) -> NOT corrupt
    assert rows[3].record_type == "R" and rows[3]._bad is None and rows[3].rk == 99


# OCCURS DEPENDING ON inside a multitype layout: the H layout's `vals`
# holds up to 3 two-byte ints, as many as its `cnt` counter says
ODO_RL = 12


def _odo_decode(layouts_opt, data, permissive=False, corrupt_column=False):
    import pyarrow as pa

    from hadoop_fixedlengthinputformat_spark.sources.layout import (
        decode_chunk_multitype,
        parse_multitype,
    )

    layouts, union = parse_multitype(layouts_opt, ODO_RL, 0, 1)
    cols = [pa.field("record_type", pa.string())]
    cols += [pa.field(f.name, f.arrow_type()) for f in union]
    if corrupt_column:
        cols.append(pa.field("_bad", pa.binary()))
    return decode_chunk_multitype(
        data, ODO_RL, layouts, union, (0, 1), 0, False, None, pa.schema(cols),
        permissive=permissive, corrupt_column=corrupt_column,
    ).to_pylist()


def _odo_records(h_spec, h_rows, d_amounts):
    from hadoop_fixedlengthinputformat_spark.sources.layout import (
        encode_rows,
        parse_layout,
    )

    h = parse_layout("rt:0:1:string," + h_spec, ODO_RL)
    d = parse_layout("rt:0:1:string,amt:1:5:int", ODO_RL)
    return b"".join(
        [encode_rows([dict(r, rt="H")], h, ODO_RL) for r in h_rows]
        + [encode_rows([{"rt": "D", "amt": a}], d, ODO_RL) for a in d_amounts]
    )


def test_multitype_odo_trims_lists_to_the_counter():
    """Each tag decodes through the single-layout field loop, so an ODO
    field gets its counter's per-row count (not the max OCCURS)."""
    h_spec = "cnt:1:1:int,vals:2:2:int[3->cnt]"
    data = _odo_records(h_spec, [{"cnt": 1, "vals": [7]}, {"cnt": 3, "vals": [1, 2, 3]},
                                 {"cnt": 0, "vals": []}], [5])
    rows = _odo_decode(f"H={h_spec};D=amt:1:5:int", data)
    assert [(r["record_type"], r["cnt"], r["vals"], r["amt"]) for r in rows] == [
        ("H", 1, [7], None), ("H", 3, [1, 2, 3], None), ("H", 0, [], None),
        ("D", None, None, 5),
    ]


def test_multitype_odo_with_max_count_one_is_a_list():
    """An ODO with max count 1 is an array column (0..1 elements)."""
    h_spec = "cnt:1:1:int,vals:2:2:int[1->cnt]"
    data = _odo_records(h_spec, [{"cnt": 1, "vals": [4]}, {"cnt": 0, "vals": []}], [6])
    rows = _odo_decode(f"H={h_spec};D=amt:1:5:int", data)
    assert [(r["vals"], r["amt"]) for r in rows] == [([4], None), ([], None), (None, 6)]


def test_multitype_odo_bad_counter_failfast_and_corrupt_column():
    h_spec = "cnt:1:1:int,vals:2:2:int[3->cnt]"
    good = _odo_records(h_spec, [{"cnt": 2, "vals": [8, 9]}], [5])
    bad = bytearray(good)
    bad[1:2] = b"5"  # counter 5 > max 3
    with pytest.raises(ValueError, match="OCCURS DEPENDING ON counter 'cnt' out of range"):
        _odo_decode(f"H={h_spec};D=amt:1:5:int", bytes(bad))
    rows = _odo_decode(f"H={h_spec};D=amt:1:5:int", bytes(bad),
                       permissive=True, corrupt_column=True)
    assert rows[0]["cnt"] == 5 and rows[0]["vals"] is None
    assert rows[0]["_bad"] == bytes(bad[:ODO_RL])
    assert rows[1]["amt"] == 5 and rows[1]["_bad"] is None


def test_multitype_shared_name_decodes_each_tags_own_bytes():
    """A column two tags share is read at each tag's own position."""
    data = _odo_records("x:1:3:int,y:4:3:int", [{"x": 11, "y": 22}], []) + \
        b"D" + b"  " + b"00033" + b" " * 4
    rows = _odo_decode("H=x:1:3:int,y:4:3:int;D=x:3:5:int", data)
    assert [(r["record_type"], r["x"], r["y"]) for r in rows] == [
        ("H", 11, 22), ("D", 33, None),
    ]


def test_multitype_odo_through_the_reader(spark, tmp_path):
    h_spec = "cnt:1:1:int,vals:2:2:int[3->cnt]"
    path = tmp_path / "odo.fixed"
    path.write_bytes(_odo_records(h_spec, [{"cnt": 1, "vals": [7]}], [5]))
    fixedlen.register(spark)
    rows = (
        spark.read.format("fixedlen")
        .option("recordLength", str(ODO_RL))
        .option("layouts", f"H={h_spec};D=amt:1:5:int")
        .option("typeStart", "0").option("typeLen", "1")
        .option("includeOffset", "true")
        .load(str(path))
        .orderBy("record_offset")
        .collect()
    )
    assert [(r.record_type, r.vals, r.amt) for r in rows] == [("H", [7], None), ("D", None, 5)]


def test_multitype_rejects_scalar_and_odo_under_one_name():
    """An ODO with max count 1 is a list: it cannot share a union column
    with another tag's scalar of the same type."""
    from hadoop_fixedlengthinputformat_spark.sources.layout import parse_multitype

    with pytest.raises(ValueError, match="conflicting types"):
        parse_multitype("A=x:1:2:int;B=c:1:1:int,x:2:2:int[1->c]", 4, 0, 1)
