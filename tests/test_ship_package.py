"""The package zip shipped to Spark's Python workers is named by its
content, so concurrent drivers of different checkouts never overwrite
each other's zip (Spark rejects a task whose shipped file changed)."""

from __future__ import annotations

import os
import shutil
import tempfile

from hadoop_fixedlengthinputformat_spark import tables

PKG = os.path.dirname(os.path.abspath(tables.__file__))


def _copy(root) -> str:
    dst = os.path.join(str(root), os.path.basename(PKG))
    shutil.copytree(PKG, dst, ignore=shutil.ignore_patterns("__pycache__"))
    return dst


def test_package_zip_is_named_by_content(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    a, b, c = (_copy(tmp_path / n) for n in ("a", "b", "c"))
    init = os.path.join(b, "__init__.py")
    with open(init, "rb") as f:
        data = bytearray(f.read())
    data[-1] ^= 1  # one byte differs
    with open(init, "wb") as f:
        f.write(data)

    za = tables._package_zip(a)
    before = os.stat(za)
    zb = tables._package_zip(b)
    zc = tables._package_zip(c)
    assert zb != za
    assert os.path.dirname(za) == str(tmp_path)
    assert zc == za
    after = os.stat(zc)
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)
