#!/usr/bin/env python
"""Per-query floor of a Python Data Source, broken into worker calls.

Times a warm 1-record ``fixedlen`` scan and a Python source that imports
nothing from the engine, each ``--reps`` times after one warm-up, and
prints one row per source:

* ``load_s``  — ``.load()``: the create-data-source / ``schema()`` call;
* ``plan_s``  — ``collect()`` start to the first ``read()``: the second
  create call, ``pushFilters``, read planning and task launch;
* ``tasks_s`` — first ``read()`` to the last collected row;
* ``schema_ms`` / ``plan_ms`` / ``read_ms`` — median time of one
  ``importlib.invalidate_caches()`` inside the ``schema()``,
  ``partitions()`` and ``read()`` worker calls (Spark's
  ``setup_spark_files`` makes the same call at the start of each);
* the zipimporters a task worker holds, by archive.

The fixedlen rows go through a subclass of ``FixedLengthDataSource``
defined here (so pickled by value) that only adds the timestamps.

    python tools/worker_floor.py [--reps 4] [--cpus 4] [--order bare,fixedlen]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition  # noqa: E402

from hadoop_fixedlengthinputformat_spark.sources.fixedlen import (  # noqa: E402
    FixedLengthDataSource,
    FixedLengthReader,
)

STAMPS = ""  # set by main(); cloudpickle ships its value with the sources


def _stamp(event: str, t0: float) -> None:
    """Append one worker call: its start, end and the cost of one refresh."""
    import collections
    import importlib
    import zipimport

    t1 = time.time()
    importlib.invalidate_caches()
    inv_ms = (time.time() - t1) * 1e3
    zips = collections.Counter(
        os.path.basename(v.archive)
        for v in sys.path_importer_cache.values()
        if isinstance(v, zipimport.zipimporter)
    )
    with open(STAMPS, "a") as fh:
        fh.write(json.dumps({"event": event, "t0": t0, "t1": t1, "pid": os.getpid(),
                             "inv_ms": inv_ms, "zips": dict(zips)}) + "\n")


class _TimedFixedReader(FixedLengthReader):
    def partitions(self):
        t0 = time.time()
        out = super().partitions()
        _stamp("plan", t0)
        return out

    def read(self, partition):
        _stamp("read", time.time())
        yield from super().read(partition)


class TimedFixedLen(FixedLengthDataSource):
    @classmethod
    def name(cls) -> str:
        return "floor_fixedlen"

    def schema(self):
        t0 = time.time()
        out = super().schema()
        _stamp("schema", t0)
        return out

    def reader(self, schema):
        r = super().reader(schema)
        r.__class__ = _TimedFixedReader
        return r


class _BareReader(DataSourceReader):
    def partitions(self):
        t0 = time.time()
        _stamp("plan", t0)
        return [InputPartition(0)]

    def read(self, partition):
        _stamp("read", time.time())
        yield (1,)


class Bare(DataSource):
    @classmethod
    def name(cls) -> str:
        return "floor_bare"

    def schema(self):
        _stamp("schema", time.time())
        return "v int"

    def reader(self, schema):
        return _BareReader()


def _events(since: float) -> list[dict]:
    if not os.path.exists(STAMPS):
        return []
    with open(STAMPS) as fh:
        rows = [json.loads(line) for line in fh]
    return [r for r in rows if r["t0"] >= since]


def _one(spark, fmt: str, path: str | None) -> dict:
    t0 = time.time()
    reader = spark.read.format(fmt)
    if fmt == "floor_fixedlen":
        reader = reader.option("recordLength", "8").option("layout", "v:0:8:int")
    df = reader.load(path) if path else reader.load()
    t1 = time.time()
    rows = df.collect()
    t2 = time.time()
    assert len(rows) == 1, rows
    ev = _events(t0)
    reads = [e for e in ev if e["event"] == "read"]
    first_read = min(e["t0"] for e in reads)

    def inv(name: str) -> float | None:
        xs = [e["inv_ms"] for e in ev if e["event"] == name]
        return statistics.median(xs) if xs else None

    return {
        "load_s": t1 - t0,
        "plan_s": first_read - t1,
        "tasks_s": t2 - first_read,
        "total_s": t2 - t0,
        "schema_ms": inv("schema"),
        "plan_ms": inv("plan"),
        "read_ms": inv("read"),
        "zips": reads[-1]["zips"],
    }


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--reps", type=int, default=4)
    p.add_argument("--cpus", type=int, default=4)
    p.add_argument("--order", default="bare,fixedlen")
    args = p.parse_args()
    global STAMPS
    work = tempfile.mkdtemp(prefix="worker-floor-")
    STAMPS = os.path.join(work, "stamps.jsonl")

    from hadoop_fixedlengthinputformat_spark.sources import fixedlen
    from hadoop_fixedlengthinputformat_spark.tables import get_session

    spark = get_session("worker-floor", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    fixedlen.register(spark)
    spark.dataSource.register(TimedFixedLen)
    spark.dataSource.register(Bare)
    data = os.path.join(work, "one.fixed")
    with open(data, "wb") as fh:
        fh.write(b"00000001")

    sources = {"bare": ("floor_bare", None), "fixedlen": ("floor_fixedlen", data)}
    table = []
    for name in args.order.split(","):
        fmt, path = sources[name]
        _one(spark, fmt, path)  # warm-up
        runs = [_one(spark, fmt, path) for _ in range(args.reps)]

        def med(key: str) -> float | None:
            xs = [r[key] for r in runs if r[key] is not None]
            return statistics.median(xs) if xs else None

        table.append((name, {k: med(k) for k in runs[0] if k != "zips"}, runs[-1]["zips"]))
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)

    cols = ("load_s", "plan_s", "tasks_s", "total_s", "schema_ms", "plan_ms", "read_ms")
    print(f"python {sys.version.split()[0]}, local[{args.cpus}], "
          f"median of {args.reps} warm runs")
    print("| source | " + " | ".join(cols) + " |")
    print("|---" * (len(cols) + 1) + "|")
    for name, row, _ in table:
        cells = ["-" if row[c] is None else f"{row[c]:.3f}" if c.endswith("_s")
                 else f"{row[c]:.1f}" for c in cols]
        print(f"| {name} | " + " | ".join(cells) + " |")
    for name, _, zips in table:
        print(f"zipimporters in a {name} task worker: "
              + ", ".join(f"{k} x{v}" for k, v in sorted(zips.items())))


if __name__ == "__main__":
    main()
