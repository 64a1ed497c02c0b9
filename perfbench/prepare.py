"""Seeded input preparation for the benchmark.

Inputs are made from the seed alone: ``tests/gen_testdata.gen`` writes the
parquet tables, and the fixed-width / RECFM=VBS / AWS-tape fixtures are
encoded from them by the engine's own ``fixture_gen`` builders.  Both land
in a per-seed cache directory under the checkout, so a second run with the
same seed reuses them.  Preparation time is reported as ``prepare_s`` in
the trace; it is not part of any end-to-end metric.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

# seed caches kept beside the one in use; older ones are deleted
KEEP_SEEDS = 6


@dataclass
class Inputs:
    sf_dir: str  # seeded parquet tables
    work_dir: str  # per-seed scratch: fixtures, written datasets, traces
    files: dict[str, str] = field(default_factory=dict)  # fixture name -> path
    prepare_s: float = 0.0

    def size(self, name: str) -> int:
        return os.path.getsize(self.files[name])


def seed_dir(cache_root: str, seed: int, scale: int) -> str:
    return os.path.join(cache_root, f"seed-{seed}-x{scale}")


def _prune(cache_root: str, keep: str) -> None:
    dirs = [
        os.path.join(cache_root, d)
        for d in os.listdir(cache_root)
        if d.startswith("seed-") and os.path.join(cache_root, d) != keep
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_SEEDS:]:
        shutil.rmtree(d, ignore_errors=True)


def prepare(cache_root: str, seed: int, scale: int, fixtures: bool) -> Inputs:
    """Generate (or reuse) the seeded inputs.  ``fixtures`` also builds the
    fixed-width, VBS and tape images; the parquet alone serves the
    workloads that never read them."""
    import gen_testdata  # tests/ is on sys.path (see run.py)

    from hadoop_fixedlengthinputformat_spark.sources import fixture_gen

    t0 = time.perf_counter()
    root = seed_dir(cache_root, seed, scale)
    sf_dir = os.path.join(root, "data")
    done = os.path.join(sf_dir, ".complete")
    if not os.path.exists(done):
        shutil.rmtree(sf_dir, ignore_errors=True)
        gen_testdata.gen(sf_dir, seed, scale=scale)
        open(done, "w").close()
    os.utime(root)
    _prune(cache_root, root)
    inputs = Inputs(sf_dir=sf_dir, work_dir=root)
    if fixtures:
        inputs.files["lineitem_fixed"] = fixture_gen.fixed_file_for(
            sf_dir, "lineitem"
        )
        inputs.files["documents_vbs"] = fixture_gen.vbs_file_for(sf_dir)
        inputs.files["documents_aws"] = fixture_gen.aws_u_file_for(sf_dir)
    inputs.prepare_s = time.perf_counter() - t0
    return inputs
