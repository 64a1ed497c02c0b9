"""The stat-guarded zipimport refresh (``_zipcache``) installed by the
package ``__init__``: an unchanged archive is not re-read, a replaced or
rewritten one is, a deleted one behaves as in the stdlib, and a Spark
Python worker that has served engine code refreshes in well under 5 ms."""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import zipfile
import zipimport

import pytest

from hadoop_fixedlengthinputformat_spark import _zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the guard is inert on Python >= 3.13"
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` whose ``<prefix>_a`` is imported and whose
    directory has been refreshed once; yields (path, prefix).  The
    importer's own read carries no stat stamp, so that first refresh is
    the one that re-reads and stamps.  Module names carry the test's tmp
    dir name so no two tests share a ``sys.modules`` entry."""
    prefix = "zc_" + tmp_path.name.replace("-", "_")
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {f"{prefix}_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module(f"{prefix}_a").X == 1
    importlib.invalidate_caches()
    yield path, prefix
    for m in (f"{prefix}_a", f"{prefix}_b"):
        sys.modules.pop(m, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _count_reads(monkeypatch, path: str) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_installed_and_idempotent():
    fn = zipimport.zipimporter.invalidate_caches
    assert _zipcache.install() is True
    assert zipimport.zipimporter.invalidate_caches is fn
    # the wrapped body is the stdlib's, not an earlier guard
    assert fn._eager.__module__ == "zipimport"
    assert not hasattr(fn._eager, "_eager")


def test_inert_on_313(monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches._eager
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert _zipcache.install() is False
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    path, prefix = archive
    reads = _count_reads(monkeypatch, path)
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module(f"{prefix}_a").X == 1


def test_replaced_archive_exposes_new_module(archive, tmp_path):
    path, prefix = archive
    tmp = str(tmp_path / "next.zip")
    _write_zip(tmp, {f"{prefix}_a": "X = 1\n", f"{prefix}_b": "Y = 2\n"})
    os.replace(tmp, path)
    importlib.invalidate_caches()
    assert importlib.import_module(f"{prefix}_b").Y == 2


def test_rewritten_in_place_exposes_new_module(archive, tmp_path):
    path, prefix = archive
    ino = os.stat(path).st_ino
    tmp = str(tmp_path / "next.zip")
    _write_zip(tmp, {f"{prefix}_a": "X = 1\n", f"{prefix}_b": "Y = 3\n"})
    with open(tmp, "rb") as src, open(path, "r+b") as dst:
        dst.write(src.read())
        dst.truncate()
    assert os.stat(path).st_ino == ino
    importlib.invalidate_caches()
    assert importlib.import_module(f"{prefix}_b").Y == 3


def test_deleted_archive_behaves_as_stdlib(archive):
    path, prefix = archive
    importer = sys.path_importer_cache[path]
    os.remove(path)
    importlib.invalidate_caches()
    assert path not in zipimport._zip_directory_cache
    assert importer._files == {}
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(f"{prefix}_b")


def test_warm_worker_refresh_is_cheap(spark, tmp_path):
    """After a warm fixedlen scan, a Python task on a worker that served
    engine code spends < 5 ms in ``importlib.invalidate_caches()`` (the
    stdlib re-reads pyspark.zip and the Spark jar: ~0.25 s)."""
    from hadoop_fixedlengthinputformat_spark.sources import fixedlen

    fixedlen.register(spark)
    path = str(tmp_path / "one.fixed")
    with open(path, "wb") as fh:
        fh.write(b"00000001")
    for _ in range(2):
        rows = (
            spark.read.format("fixedlen")
            .option("recordLength", "8")
            .option("layout", "v:0:8:int")
            .load(path)
            .collect()
        )
        assert [r.v for r in rows] == [1]

    def probe(it):
        # one refresh, timed, and whether this worker had imported the
        # engine before this task (so its own refresh ran guarded); nested,
        # so cloudpickle ships it by value
        import importlib
        import sys
        import time

        import pandas as pd

        warm = "hadoop_fixedlengthinputformat_spark" in sys.modules
        for _ in it:
            pass
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        yield pd.DataFrame(
            {"ms": [(time.perf_counter() - t0) * 1e3], "warm": [warm]}
        )

    n = spark.sparkContext.defaultParallelism
    warm: list[float] = []
    for _ in range(3):
        out = (
            spark.range(n, numPartitions=n)
            .mapInPandas(probe, "ms double, warm boolean")
            .collect()
        )
        warm += [r.ms for r in out if r.warm]
    assert warm, "no task landed on a worker that had served the scan"
    assert statistics.median(warm) < 5.0, warm
