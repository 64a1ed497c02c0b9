"""A schema given with ``.schema(...)`` must match the one the options
produce: the fixedlen, varlen and awstape readers emit columns by
position, so a retyped, unknown or missing column is refused with a
``ValueError`` naming it, and the options' own schema is accepted."""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hadoop_fixedlengthinputformat_spark.sources.layout import check_user_schema

OWN = StructType(
    [StructField("k", IntegerType(), True), StructField("s", StringType(), True)]
)


def test_check_accepts_own_schema_ignoring_nullability():
    check_user_schema("fixedlen", OWN, OWN)
    strict = StructType([StructField(f.name, f.dataType, False) for f in OWN.fields])
    check_user_schema("fixedlen", strict, OWN)


@pytest.mark.parametrize(
    "user, error",
    [
        ("k long, s string", "column 'k' as bigint; the options decode it as int"),
        ("k int, s string, extra int", "column 'extra' is not produced"),
        ("k int", "lacks column 's'"),
        ("s string, k int", "column 's' where the options produce 'k'"),
    ],
    ids=["retyped", "unknown", "missing", "reordered"],
)
def test_check_rejects_mismatch(user, error):
    fields = [tuple(c.split()) for c in user.split(", ")]
    types = {"int": IntegerType(), "long": LongType(), "string": StringType()}
    schema = StructType([StructField(n, types[t], True) for n, t in fields])
    with pytest.raises(ValueError, match=error):
        check_user_schema("fixedlen", schema, OWN)


def _fixedlen(spark, path: str):
    from hadoop_fixedlengthinputformat_spark.sources import fixedlen

    fixedlen.register(spark)
    return (
        spark.read.format("fixedlen")
        .option("recordLength", "8")
        .option("layout", "k:0:4:int,s:4:4:string")
    )


@pytest.fixture
def fixed_file(tmp_path) -> str:
    path = str(tmp_path / "d.fixed")
    with open(path, "wb") as fh:
        fh.write(b"0001abcd0002efgh")
    return path


@pytest.mark.parametrize(
    "user, field",
    [
        ("record_offset long, k string, s string", "'k'"),
        ("record_offset long, k int, s string, extra int", "'extra'"),
        ("record_offset long, k int", "'s'"),
    ],
    ids=["retyped", "unknown", "missing"],
)
def test_fixedlen_rejects_mismatching_user_schema(spark, fixed_file, user, field):
    with pytest.raises(Exception, match=f"fixedlen: user schema.*{field}"):
        _fixedlen(spark, fixed_file).schema(user).load(fixed_file).collect()


def test_fixedlen_accepts_own_schema(spark, fixed_file):
    plain = _fixedlen(spark, fixed_file).load(fixed_file)
    given = _fixedlen(spark, fixed_file).schema(plain.schema).load(fixed_file)
    assert given.collect() == plain.collect() == [(0, 1, "abcd"), (8, 2, "efgh")]


@pytest.mark.parametrize("fmt", ["varlen", "awstape"])
def test_framed_readers_check_user_schema(spark, tmp_path, fmt):
    from hadoop_fixedlengthinputformat_spark.sources import awstape, varlen

    {"varlen": varlen, "awstape": awstape}[fmt].register(spark)
    out = str(tmp_path / "out")
    values = [(b"abc",), (b"defgh",)]
    spark.createDataFrame(values, "value binary").coalesce(1).write.format(
        fmt
    ).mode("overwrite").save(out)
    own = spark.read.format(fmt).load(out).schema
    assert own["value"].dataType == BinaryType()
    rows = spark.read.format(fmt).schema(own).load(out).collect()
    assert sorted(bytes(r.value) for r in rows) == [b"abc", b"defgh"]
    retyped = StructType(
        [
            StructField(f.name, StringType(), True) if f.name == "value" else f
            for f in own.fields
        ]
    )
    with pytest.raises(Exception, match=f"{fmt}: user schema.*'value'"):
        spark.read.format(fmt).schema(retyped).load(out).collect()
