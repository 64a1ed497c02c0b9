"""In-process layer probes (traced runs only).

Each probe times calls into one layer's public functions on the seeded
inputs, in this process on one core, so a layer's speed is measured
without Spark's scheduling around it:

* ``sources.fixedlen`` read: ``FixedLengthDataSource(...).reader(schema)``
  ``.partitions()`` / ``.read(partition)``, raw (no layout) and decoded;
* ``sources.fixedlen`` planning and ``sources.stats``: ``partitions()``
  with the lookup predicates pushed, on a key-sorted copy of the
  ``lineitem`` image with a min/max sidecar, and
  ``stats.partition_may_match`` per partition;
* ``sources.layout``: ``decode_chunk``, ``decode_field`` per field type,
  ``encode_rows``;
* ``sources.varlen`` / ``sources.awstape`` readers.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa

from hadoop_fixedlengthinputformat_spark.sources import fixture_gen, layout, stats
from hadoop_fixedlengthinputformat_spark.sources.awstape import AwsTapeDataSource
from hadoop_fixedlengthinputformat_spark.sources.fixedlen import (
    READ_CHUNK_TARGET,
    FixedLengthDataSource,
)
from hadoop_fixedlengthinputformat_spark.sources.varlen import VarLenDataSource

MB = 1e6
REPEATS = 3
ENCODE_ROWS = 5_000
FIELD_TYPES = ("date", "double", "long", "int", "string")


def _median_time(fn, repeats: int = REPEATS) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _read_all(source) -> int:
    reader = source.reader(source.schema())
    rows = 0
    for part in reader.partitions():
        for batch in reader.read(part):
            rows += batch.num_rows
    return rows


def lineitem_options(path: str, size: int, **extra: str) -> dict:
    """Options of the registered lineitem scans: same layout and the same
    ~32-way split sizing (of ``size`` data bytes) as
    ``scan_queries.read_fixed``."""
    rl, spec, _ = fixture_gen.LAYOUTS["lineitem"]
    opts = {
        "path": path,
        "recordlength": str(rl),
        "layout": spec,
        "includeoffset": "false",
        "maxpartitionbytes": str(max(rl, size // 32)),
    }
    opts.update(extra)
    return opts


def sorted_copy_with_sidecar(src: str, out_dir: str) -> str:
    """A one-file dataset holding ``src`` (the lineitem image, already in
    ``l_orderkey`` order) plus its min/max sidecar, built with the
    engine's own ``StatsCollector``.  Cached per seed."""
    part = os.path.join(out_dir, "part-00000.fixed")
    if os.path.exists(stats.sidecar_path(part)):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    shutil.copyfile(src, part)
    rl, fields = fixture_gen.layout_for("lineitem")
    with open(part, "rb") as f:
        data = f.read()
    batch = layout.decode_chunk(data, rl, fields, 0, False, None, _arrow_schema(fields))
    coll = stats.StatsCollector(fields)
    for row in batch.to_pylist():
        coll.update(row)
    stats.write_sidecar(stats.sidecar_path(part), coll.payload())
    return out_dir


def _arrow_schema(fields) -> pa.Schema:
    return pa.schema([pa.field(f.name, f.arrow_type()) for f in fields])


def fixedlen_read(tracer, inputs) -> dict[str, float]:
    path, size = inputs.files["lineitem_fixed"], inputs.size("lineitem_fixed")
    mb = size / MB
    out = {}
    with tracer.span("fixedlen.raw_read"):
        raw = lineitem_options(path, size)
        del raw["layout"]
        out["fixedlen.raw_read_s_per_mb"] = _median_time(
            lambda: _read_all(FixedLengthDataSource(raw))
        ) / mb
    with tracer.span("fixedlen.read_decode"):
        dec = lineitem_options(path, size)
        out["fixedlen.read_decode_s_per_mb"] = _median_time(
            lambda: _read_all(FixedLengthDataSource(dec))
        ) / mb
    return out


def fixedlen_plan(tracer, inputs, lookups) -> dict[str, float]:
    """Planning-time pruning for the lookup predicates: sorted-file bisect
    plus sidecar min/max pruning."""
    rl, fields = fixture_gen.layout_for("lineitem")
    by_name = {f.name: f for f in fields}
    ds_dir = sorted_copy_with_sidecar(
        inputs.files["lineitem_fixed"], os.path.join(inputs.work_dir, "probe_sorted")
    )
    part_file = os.path.join(ds_dir, "part-00000.fixed")
    payload = stats.load_sidecar(part_file)
    opts = lineitem_options(ds_dir, inputs.size("lineitem_fixed"), sortedby="l_orderkey")
    planned = FixedLengthDataSource(opts)
    all_parts = planned.reader(planned.schema()).partitions()
    plan_s, read, kept, decoded, match_s, match_calls = [], [], 0, 0, 0.0, 0
    for lk in lookups:
        with tracer.span("fixedlen.plan", lookup=lk.describe()):
            source = FixedLengthDataSource(opts)
            reader = source.reader(source.schema())
            list(reader.pushFilters(lk.filters()))
            t0 = time.perf_counter()
            parts = reader.partitions()
            plan_s.append(time.perf_counter() - t0)
        with tracer.span("stats.partition_may_match"):
            t0 = time.perf_counter()
            for p in all_parts:
                stats.partition_may_match(payload, rl, p.start, p.end, lk.filters(), by_name)
            match_s += time.perf_counter() - t0
            match_calls += len(all_parts)
        read.append(len(parts))
        for p in parts:
            decoded += (p.end - p.start) // rl
            for batch in reader.read(p):
                kept += batch.num_rows
    return {
        "fixedlen.plan_s": statistics.median(plan_s),
        "fixedlen.partitions_planned": float(len(all_parts)),
        "fixedlen.partitions_read": statistics.mean(read),
        "fixedlen.pruned_share": 1.0 - statistics.mean(read) / len(all_parts),
        "fixedlen.rows_kept_ratio": kept / decoded if decoded else 0.0,
        "stats.partition_may_match_s": match_s / match_calls,
    }


def layout_codec(tracer, inputs) -> dict[str, float]:
    rl, fields = fixture_gen.layout_for("lineitem")
    with open(inputs.files["lineitem_fixed"], "rb") as f:
        chunk = f.read(max(rl, READ_CHUNK_TARGET // rl * rl))
    mb = len(chunk) / MB
    schema = _arrow_schema(fields)
    out = {}
    with tracer.span("layout.decode_chunk"):
        out["layout.decode_chunk_s_per_mb"] = _median_time(
            lambda: layout.decode_chunk(chunk, rl, fields, 0, False, None, schema)
        ) / mb
    mat = np.frombuffer(chunk, dtype=np.uint8).reshape(-1, rl)
    for ftype in FIELD_TYPES:
        typed = [f for f in fields if f.base_type == ftype]
        with tracer.span("layout.decode_field", type=ftype):
            t = _median_time(lambda: [layout.decode_field(mat, f) for f in typed])
        out[f"layout.decode_field_s_per_mb.{ftype}"] = t / mb
    rows = layout.decode_chunk(chunk, rl, fields, 0, False, None, schema).to_pylist()[:ENCODE_ROWS]
    with tracer.span("layout.encode_rows", rows=len(rows)):
        t = _median_time(lambda: layout.encode_rows(rows, fields, rl))
    out["layout.encode_rows_per_s"] = len(rows) / t
    return out


def record_readers(tracer, inputs) -> dict[str, float]:
    prefix = {
        "prefixlength": str(fixture_gen.RDW_PREFIX_LEN),
        "layout": fixture_gen.RDW_PREFIX_LAYOUT,
        "includeoffset": "false",
    }
    vbs = dict(prefix, path=inputs.files["documents_vbs"], recfm="vbs")
    aws = dict(prefix, path=inputs.files["documents_aws"])
    out = {}
    with tracer.span("varlen.read_decode"):
        out["varlen.read_decode_s_per_mb"] = _median_time(
            lambda: _read_all(VarLenDataSource(vbs))
        ) / (inputs.size("documents_vbs") / MB)
    with tracer.span("awstape.read_decode"):
        out["awstape.read_decode_s_per_mb"] = _median_time(
            lambda: _read_all(AwsTapeDataSource(aws))
        ) / (inputs.size("documents_aws") / MB)
    return out


def run_all(tracer, inputs, lookups) -> dict[str, float]:
    out = {}
    with tracer.span("probes"):
        out.update(fixedlen_read(tracer, inputs))
        out.update(fixedlen_plan(tracer, inputs, lookups))
        out.update(layout_codec(tracer, inputs))
        out.update(record_readers(tracer, inputs))
    return out
