"""Smoke test of the benchmark at ``--scale 1``.

Every workload, untraced and traced, must print every metric that
``BENCHMARK.json`` declares for that mode, with its declared unit, and
pass its output checks; and a deliberately wrong result must count as a
failed op.  Run from the root of a checkout (takes a few minutes):

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]

WORKLOADS = ("fixedlen", "analytics")


def declared(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def run_bench(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", workload, "--seed", "1", "--seconds", "1",
            "--trace", str(trace), "--scale", "1",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_declared_metric_is_emitted(workload, trace, section):
    result = run_bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    units = {name: m["unit"] for name, m in result["metrics"].items()}
    assert units == declared(section)
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())


@pytest.fixture(scope="module")
def checker(tmp_path_factory):
    import __spark_entry__ as entry
    import gen_testdata
    from checks import Checker

    sf_dir = str(tmp_path_factory.mktemp("sf"))
    gen_testdata.gen(sf_dir, 1, scale=1)
    c = Checker(sf_dir, entry.oracle_sql())
    yield c
    c.close()


def test_wrong_result_counts_as_failure(checker):
    """Rows that differ from the oracle in one value, and an op that
    raises, are both counted as failed; the right rows pass."""
    from checks import Tally
    from run import Context
    from tracing import Tracer

    res = checker.con.execute(checker.oracles["scan_fixedlen"])
    columns = [d[0] for d in res.description]
    rows = res.fetchall()
    wrong = [rows[0][:1] + ("NOT_A_NATION",) + rows[0][2:], *rows[1:]]

    ctx = Context(1, None, {}, checker, Tally(), Tracer(False))

    def check(result):
        return checker.query("scan_fixedlen", *result)

    def boom():
        raise RuntimeError("op failed")

    ctx.run_op("right", "query", lambda: (columns, rows), check, lambda: 0)
    assert (ctx.tally.attempted, ctx.tally.failed) == (1, 0)
    ctx.run_op("wrong", "query", lambda: (columns, wrong), check, lambda: 0)
    assert (ctx.tally.attempted, ctx.tally.failed) == (2, 1)
    ctx.run_op("raises", "query", boom, check, lambda: 0)
    assert (ctx.tally.attempted, ctx.tally.failed) == (3, 2)
    assert [o.ok for o in ctx.ops] == [True, False, False]
