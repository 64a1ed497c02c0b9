"""The six varlen RECFMs through one writer, one index walk and one
record walker (Sparkless).

For each RECFM a seeded row set — records that straddle block
boundaries, and for VS/VBS records over the 64 KiB descriptor limit —
goes through ``VarLenWriter``; the sidecar it writes must equal what
``build_index`` finds on the written file, and a walk from every sidecar
offset must give back exactly the rows written."""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pytest
from pyspark.sql import Row

from hadoop_fixedlengthinputformat_spark.sources import filesource
from hadoop_fixedlengthinputformat_spark.sources.varlen import (
    VarLenWriter,
    _VOptions,
    build_index,
)

LAYOUT = {"prefixlength": "8", "layout": "k:0:8:long"}

# recfm -> (writer options, largest ordinary tail); VS/VBS also get
# records over the 16-bit descriptor limit
CASES = {
    "V": ({}, 3000),
    "VB": ({"blocksize": "1024"}, 900),
    "VS": ({"segmentsize": "700"}, 3000),
    "VBS": ({"blocksize": "128", "segmentsize": "600"}, 3000),
    "D": ({}, 3000),
    "DB": ({"blocksize": "1024"}, 900),
}


def _rows(recfm: str, largest: int) -> list[Row]:
    rng = random.Random(f"recfm-table-{recfm}")
    rows = []
    for k in range(400):
        n = rng.choice([0, 1, 9, 120, 500, largest])
        if recfm in ("VS", "VBS") and k % 50 == 7:
            n = 70_000 + rng.randrange(5000)
        rows.append(
            Row(k=k, record_tail=bytes((k + j) % 256 for j in range(n)))
        )
    return rows


@pytest.mark.parametrize("recfm", list(CASES))
def test_sidecar_matches_build_index_and_walks_back(tmp_path, monkeypatch, recfm):
    extra, largest = CASES[recfm]
    opts = _VOptions.parse(
        {**LAYOUT, "recfm": recfm, "indexevery": "16", **extra}
    )
    rows = _rows(recfm, largest)
    tmp, final = str(tmp_path / "part.tmp"), str(tmp_path / "part.rdw")
    monkeypatch.setattr(filesource, "_part_paths", lambda *a: (tmp, final))
    batch = pa.RecordBatch.from_pylist([r.asDict() for r in rows])
    VarLenWriter(opts, str(tmp_path), overwrite=False).write(iter([batch]))
    with open(tmp + ".rdx.json") as f:
        sidecar = json.load(f)
    os.replace(tmp, final)

    payload = build_index(final, every=16, recfm=recfm)
    assert payload["offsets"] == sidecar["offsets"]
    assert payload["n_records"] == sidecar["n_records"] == len(rows)
    assert payload["data_bytes"] == sidecar["data_bytes"]
    assert len(sidecar["offsets"]) > 5

    want = [f"{r.k:08d}".encode() + r.record_tail for r in rows]
    size = os.path.getsize(final)
    bounds = sidecar["offsets"] + [size]

    def walk(lo, hi):
        with open(final, "rb") as f:
            f.seek(lo)
            return [
                p for _off, p, _res in opts.framing.walk(f, lo, hi, final)
            ]

    # split by split: the partitions a sidecar plans tile the rows
    tiled = []
    for lo, hi in zip(bounds, bounds[1:]):
        tiled.extend(walk(lo, hi))
    assert tiled == want
    # from any offset to EOF: exactly the suffix of the rows
    for lo in sidecar["offsets"]:
        rest = walk(lo, None)
        assert rest == want[len(want) - len(rest):]
