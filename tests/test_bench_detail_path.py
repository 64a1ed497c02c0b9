"""bench.py keeps one detail sidecar per core count."""

from __future__ import annotations

import os

import bench


def test_detail_path_per_cpu_count(monkeypatch):
    monkeypatch.delenv("BENCH_DETAIL_PATH", raising=False)
    p8, p32 = bench.detail_path(8), bench.detail_path(32)
    assert p8 != p32
    assert os.path.basename(p8) == "BENCH_DETAIL_c8.json"
    assert os.path.basename(p32) == "BENCH_DETAIL_c32.json"
    assert os.path.dirname(p8) == os.path.dirname(os.path.abspath(bench.__file__))
    monkeypatch.setenv("BENCH_DETAIL_PATH", "/elsewhere/detail.json")
    assert bench.detail_path(8) == bench.detail_path(32) == "/elsewhere/detail.json"
