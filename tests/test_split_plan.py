"""Split plan of the registered fixed-width scans: one record-aligned
split per core.

``scan_queries.read_fixed`` sizes its splits with
``fixedlen.split_bytes_per_core`` from the file and
``defaultParallelism``.  These tests read the plan back through the
data itself (``spark_partition_id`` against the file-global
``record_offset``), so they pin what Spark actually scheduled:

  * at most one split per core, each holding one core's share of the
    records, with sizes differing by at most one record (no runt tail);
  * the splits tile ``[0, size)`` exactly on record boundaries;
  * rows, ``record_offset`` included, do not depend on the split count.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from hadoop_fixedlengthinputformat_spark import registry
from hadoop_fixedlengthinputformat_spark.sources import fixedlen, fixture_gen
from hadoop_fixedlengthinputformat_spark.sources.fixedlen import (
    split_bytes_per_core,
)
from hadoop_fixedlengthinputformat_spark.sources.scan_queries import read_fixed


@pytest.mark.parametrize("table", ["lineitem", "nation"])
def test_read_fixed_plans_one_split_per_core(spark, sf_dir, table):
    rl = fixture_gen.LAYOUTS[table][0]
    size = os.path.getsize(fixture_gen.fixed_file_for(sf_dir, table))
    n = size // rl
    k = min(spark.sparkContext.defaultParallelism, n)

    df = read_fixed(spark, sf_dir, table)
    n_parts = df.rdd.getNumPartitions()
    ranges = sorted(
        (r.lo, r.hi + rl, r.n)
        for r in df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.min("record_offset").alias("lo"),
            F.max("record_offset").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )

    # every planned partition holds records, and they tile [0, size)
    assert len(ranges) == n_parts
    assert ranges[0][0] == 0 and ranges[-1][1] == size
    for (_, end, _), (start, _, _) in zip(ranges, ranges[1:]):
        assert end == start
    assert all(lo % rl == 0 and hi % rl == 0 for lo, hi, _ in ranges)
    sizes = [c for _, _, c in ranges]
    assert sizes == [(hi - lo) // rl for lo, hi, _ in ranges]

    # one core's share per split, no runt tail
    assert n_parts <= k
    assert max(sizes) == -(-n // k)
    assert max(sizes) - min(sizes) <= 1
    if n % k == 0:
        assert n_parts == k


def test_split_bytes_per_core_edges():
    # records divide evenly: cores splits of n / cores records
    assert split_bytes_per_core(6000 * 110, 110, 8) == 750 * 110
    # fewer records than cores: one record per split
    assert split_bytes_per_core(3 * 40, 40, 8) == 40
    # empty file or one core: still at least one record
    assert split_bytes_per_core(0, 40, 8) == 40
    assert split_bytes_per_core(25 * 40, 40, 1) == 25 * 40


def test_split_range_balances_the_tail():
    """The plan under a split-size cap spreads the records evenly: the
    split count is the one the cap forces, but no split is a runt."""
    parts = fixedlen._split_range("f", 80, 80 + 25 * 40, 40, 4 * 40 + 39)
    assert parts[0].start == 80
    assert all(a.end == b.start for a, b in zip(parts, parts[1:]))
    assert parts[-1].end == 80 + 25 * 40
    # 25 records under a 4-record cap: 7 splits, none a 1-record runt
    assert [(p.end - p.start) // 40 for p in parts] == [3, 4, 3, 4, 3, 4, 4]


@pytest.mark.parametrize(
    "name", ["scan_fixedlen_wide", "scan_fixedlen_key_offset"]
)
def test_rows_do_not_depend_on_split_count(spark, sf_dir, monkeypatch, name):
    """Same rows at the per-core plan and at the former constant 32-way
    target; ``record_offset`` stays file-global across split
    boundaries."""
    registry.load_all()
    q = registry.QUERIES[name]

    def rows_and_parts():
        df = q(spark, sf_dir)
        return sorted(map(tuple, df.collect())), df.rdd.getNumPartitions()

    per_core, per_core_parts = rows_and_parts()
    monkeypatch.setattr(
        fixedlen,
        "split_bytes_per_core",
        lambda size, rl, cores: max(rl, size // 32),
    )
    forced, forced_parts = rows_and_parts()

    assert forced_parts > per_core_parts
    assert forced == per_core
    if name == "scan_fixedlen_key_offset":
        rl = fixture_gen.LAYOUTS["nation"][0]
        assert [r[0] for r in per_core] == [i * rl for i in range(len(per_core))]
