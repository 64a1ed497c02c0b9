"""Pins for the shared ladder primitives.

``functions.num.running_counts`` is the exact-quantile "value ladder"
behind every per-value-collapse median / percentile / midrank query;
``operators.analytics_extras.copurchase_edges`` and ``degrees`` are the
edge build and degree census behind the co-purchase graph family.  Each
is checked against a pure-Python count on a hand-built or parquet input.
"""

from __future__ import annotations

import collections
import itertools
import os

import pyarrow.parquet as pq
import pytest

from hadoop_fixedlengthinputformat_spark.functions.num import running_counts

SF = "/root/testdata/sf0.001"

# (g, v, cnt, w): one row per (g, v), the running_counts contract.
ROWS = [
    ("a", 1, 2, 5),
    ("a", 3, 1, 7),
    ("a", 2, 4, 1),
    ("b", 1, 3, 2),  # value 1 repeats across groups
    ("b", 3, 1, 4),
    ("b", None, 2, 3),  # NULL value: sorts first
    (None, 5, 1, 1),  # NULL group key is a group of its own
    (None, 2, 2, 6),
    ("c", 7, 9, 2),  # one-row group
]
SCHEMA = "g string, v long, cnt long, w long"


def _expected(rows, group: bool, weight: int) -> dict:
    """(g, v) -> (cw, n) by a plain cumulative sum, NULL values first."""
    groups = collections.defaultdict(list)
    for r in rows:
        groups[r[0] if group else None].append(r)
    out = {}
    for members in groups.values():
        members.sort(key=lambda r: (r[1] is not None, r[1] or 0))
        n = sum(r[weight] for r in members)
        cw = 0
        for r in members:
            cw += r[weight]
            out[(r[0], r[1])] = (cw, n)
    return out


def _actual(df) -> dict:
    return {(r["g"], r["v"]): (r["cw"], r["n"]) for r in df.collect()}


@pytest.mark.parametrize("group", ["g", ["g"]])
def test_running_counts_per_group(spark, group):
    per = spark.createDataFrame(ROWS, SCHEMA)
    out = running_counts(per, group, "v")
    assert out.columns == per.columns + ["cw", "n"]
    assert _actual(out) == _expected(ROWS, group=True, weight=2)


def test_running_counts_global_window(spark):
    # group=[] is one window over every row: values must be distinct
    rows = [("a", 4, 1, 1), ("b", None, 3, 2), (None, 2, 5, 1)]
    per = spark.createDataFrame(rows, SCHEMA)
    got = _actual(running_counts(per, [], "v"))
    assert got == _expected(rows, group=False, weight=2)
    assert got == {("b", None): (3, 9), (None, 2): (8, 9), ("a", 4): (9, 9)}


def test_running_counts_weight_column(spark):
    per = spark.createDataFrame(ROWS, SCHEMA)
    out = running_counts(per, "g", "v", cnt="w")
    assert _actual(out) == _expected(ROWS, group=True, weight=3)


def test_running_counts_less_and_midrank(spark):
    """``cw - cnt`` counts the rows strictly below the value, and
    ``2*cw - cnt + 1`` is twice the 1-based midrank of its ties."""
    values = [5, 1, 3, 3, 3, 9, 1, 7]
    counts = collections.Counter(values)
    per = spark.createDataFrame(
        [(None, v, c, 0) for v, c in counts.items()], SCHEMA
    )
    got = {
        r["v"]: (r["cw"] - r["cnt"], 2 * r["cw"] - r["cnt"] + 1)
        for r in running_counts(per, [], "v").collect()
    }
    ordered = sorted(values)
    for v in counts:
        ranks = [i + 1 for i, x in enumerate(ordered) if x == v]
        below = sum(1 for x in values if x < v)
        assert got[v] == (below, 2 * sum(ranks) // len(ranks))


def _copurchase_reference():
    t = pq.read_table(
        os.path.join(SF, "lineitem.parquet"),
        columns=["l_orderkey", "l_partkey"],
    ).to_pydict()
    parts = collections.defaultdict(set)
    for o, p in zip(t["l_orderkey"], t["l_partkey"]):
        if o is not None and p is not None:
            parts[o].add(p)
    support = collections.Counter(
        pair
        for ps in parts.values()
        for pair in itertools.combinations(sorted(ps), 2)
    )
    edges = {pair for pair, c in support.items() if c >= 2}
    deg = collections.Counter(x for pair in edges for x in pair)
    return edges, deg


def test_copurchase_edges_and_degrees(spark):
    from hadoop_fixedlengthinputformat_spark.operators.analytics_extras import (
        copurchase_edges,
        degrees,
    )

    edges, deg = _copurchase_reference()
    assert edges, "sf0.001 has no support>=2 part pair; the pin checks nothing"
    e = copurchase_edges(spark, SF)
    assert e.columns == ["u", "v"]
    got = [(r["u"], r["v"]) for r in e.collect()]
    assert len(got) == len(set(got))
    assert set(got) == edges
    got_deg = {r["node"]: r["d"] for r in degrees(e).collect()}
    assert got_deg == dict(deg)
