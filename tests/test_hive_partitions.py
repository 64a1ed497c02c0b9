"""Hive-style col=value directory discovery + planning-time pruning."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from hadoop_fixedlengthinputformat_spark.sources import fixedlen


def _mk(base, parts):
    for rel, lo in parts:
        d = os.path.join(base, rel)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.fixed"), "wb") as f:
            f.write(b"".join(f"{lo + i:08d}".encode() for i in range(5)))


def _read(spark, base, **opts):
    fixedlen.register(spark)
    r = (spark.read.format("fixedlen").option("recordLength", "8")
         .option("layout", "v:0:8:int").option("includeOffset", "false"))
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load(base)


def test_discovery_schema_and_values(spark, tmp_path):
    base = str(tmp_path / "ds")
    _mk(base, [("dt=2024-01-01/region=eu", 0),
               ("dt=2024-01-01/region=us", 100),
               ("dt=2024-01-02/region=eu", 200)])
    df = _read(spark, base)
    assert df.columns == ["v", "dt", "region"]
    assert df.count() == 15
    got = df.filter(F.col("region") == "us").collect()
    assert sorted(r.v for r in got) == list(range(100, 105))
    assert {(r.dt, r.region) for r in got} == {("2024-01-01", "us")}


def test_partition_pruning_skips_poisoned_dirs(spark, tmp_path):
    """Files whose partition values fail the predicate are never read:
    they hold bytes that would hard-fail the decode."""
    base = str(tmp_path / "ds2")
    _mk(base, [("dt=a/region=eu", 0), ("dt=a/region=us", 100),
               ("dt=b/region=eu", 200)])
    for rel in ("dt=a/region=eu", "dt=b/region=eu"):
        with open(os.path.join(base, rel, "part-0.fixed"), "r+b") as f:
            f.write(b"X" * 40)
    got = _read(spark, base).filter(F.col("region") == "us").collect()
    assert sorted(r.v for r in got) == list(range(100, 105))
    with pytest.raises(Exception):
        _read(spark, base).collect()


def test_range_and_in_predicates_prune(spark, tmp_path):
    base = str(tmp_path / "ds3")
    _mk(base, [(f"dt=2024-01-0{i}", i * 10) for i in range(1, 6)])
    for i in (1, 2, 3):
        with open(os.path.join(base, f"dt=2024-01-0{i}", "part-0.fixed"), "r+b") as f:
            f.write(b"X" * 40)
    got = _read(spark, base).filter(F.col("dt") >= "2024-01-04").collect()
    assert sorted(r.v for r in got) == list(range(40, 45)) + list(range(50, 55))
    got2 = _read(spark, base).filter(F.col("dt").isin("2024-01-05")).collect()
    assert sorted(r.v for r in got2) == list(range(50, 55))


def test_mixed_loose_files_rejected(spark, tmp_path):
    base = str(tmp_path / "ds4")
    _mk(base, [("dt=a", 0)])
    with open(os.path.join(base, "loose.fixed"), "wb") as f:
        f.write(b"00000000")
    with pytest.raises(Exception, match="mixes partition directories"):
        _read(spark, base).collect()


def test_partition_col_clash_rejected(spark, tmp_path):
    base = str(tmp_path / "ds5")
    _mk(base, [("v=1", 0)])
    with pytest.raises(Exception, match="clash"):
        _read(spark, base).collect()


def test_inconsistent_nesting_rejected(spark, tmp_path):
    base = str(tmp_path / "ds6")
    _mk(base, [("dt=a/region=eu", 0), ("dt=b", 100)])
    with pytest.raises(Exception, match="inconsistent partition nesting"):
        _read(spark, base).collect()


def test_url_encoded_values_decoded(spark, tmp_path):
    base = str(tmp_path / "ds7")
    _mk(base, [("k=a%20b%2Fc", 0)])
    df = _read(spark, base)
    assert {r.k for r in df.collect()} == {"a b/c"}


def test_partitionby_write_then_discover_roundtrip(spark, tmp_path):
    """write partitionBy=status -> col=value subdirs; reading the root
    rediscovers the partition column and every row; a filtered read
    prunes to the matching directory."""
    fixedlen.register(spark)
    df = spark.createDataFrame(
        [(i, ["A", "B", "C"][i % 3]) for i in range(30)], "k int, status string"
    )
    out = str(tmp_path / "pb")
    (df.write.format("fixedlen").option("recordLength", "8")
       .option("layout", "k:0:8:int").option("partitionBy", "status")
       .mode("overwrite").save(out))
    assert sorted(os.listdir(out)) == ["status=A", "status=B", "status=C"]
    back = _read(spark, out, layout="k:0:8:int")
    assert back.columns == ["k", "status"]
    got = back.collect()
    assert len(got) == 30
    assert all(r.status == ["A", "B", "C"][r.k % 3] for r in got)
    only_b = back.filter(F.col("status") == "B").collect()
    assert sorted(r.k for r in only_b) == [i for i in range(30) if i % 3 == 1]


def test_partitionby_multi_column_and_special_chars(spark, tmp_path):
    fixedlen.register(spark)
    df = spark.createDataFrame(
        [(1, "2024-01-01", "a b/c"), (2, "2024-01-02", "plain")],
        "k int, dt string, src string",
    )
    out = str(tmp_path / "pb2")
    (df.write.format("fixedlen").option("recordLength", "8")
       .option("layout", "k:0:8:int").option("partitionBy", "dt,src")
       .mode("overwrite").save(out))
    back = _read(spark, out, layout="k:0:8:int")
    rows = {r.k: (r.dt, r.src) for r in back.collect()}
    assert rows == {1: ("2024-01-01", "a b/c"), 2: ("2024-01-02", "plain")}


def test_partitionby_overwrite_cleans_subdirs(spark, tmp_path):
    fixedlen.register(spark)
    out = str(tmp_path / "pb3")
    for n in (20, 6):
        df = spark.createDataFrame(
            [(i, str(i % 2)) for i in range(n)], "k int, p string"
        )
        (df.write.format("fixedlen").option("recordLength", "8")
           .option("layout", "k:0:8:int").option("partitionBy", "p")
           .mode("overwrite").save(out))
    assert _read(spark, out, layout="k:0:8:int").count() == 6


def test_partitionby_layout_clash_rejected(spark, tmp_path):
    fixedlen.register(spark)
    df = spark.createDataFrame([(1, "x")], "k int, p string")
    with pytest.raises(Exception, match="layout"):
        (df.write.format("fixedlen").option("recordLength", "8")
           .option("layout", "k:0:8:int").option("partitionBy", "k")
           .mode("overwrite").save(str(tmp_path / "pb4")))


def test_partitionby_with_stats_sidecar(spark, tmp_path):
    """Each partition directory gets its own part sidecar; stats pruning
    composes with directory pruning."""
    from hadoop_fixedlengthinputformat_spark.sources import stats as st

    fixedlen.register(spark)
    df = spark.createDataFrame(
        [(i, str(i % 2)) for i in range(40)], "k int, p string"
    ).coalesce(1).sortWithinPartitions("k")
    out = str(tmp_path / "pb5")
    (df.write.format("fixedlen").option("recordLength", "8")
       .option("layout", "k:0:8:int").option("partitionBy", "p")
       .option("statsSidecar", "true").option("statsBlockRecords", "5")
       .mode("overwrite").save(out))
    sidecars = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(out) for f in fs if st.is_sidecar(f)
    ]
    assert len(sidecars) == 2
    got = _read(spark, out, layout="k:0:8:int", maxPartitionBytes="40").filter(
        (F.col("p") == "1") & (F.col("k") >= 35)
    ).collect()
    assert sorted(r.k for r in got) == [35, 37, 39]


def test_hive_query_cache_follows_a_regenerated_source(tmp_path):
    """``scan_fixedlen_hive_partitioned`` caches the dataset it writes;
    a source regenerated under the same directory name must get a new
    cache path, or the query reads the earlier source's rows."""
    from hadoop_fixedlengthinputformat_spark.sources.skip_queries import _hive_dir

    roll = tmp_path / "roll_ties"
    roll.mkdir()
    (roll / "customer.parquet").write_bytes(b"first roll")
    first = _hive_dir(str(roll))
    assert os.path.basename(first).startswith("flif_hive_roll_ties_")
    (roll / "customer.parquet").write_bytes(b"second, longer roll")
    assert _hive_dir(str(roll)) != first
