"""Seeded benchmark of the fixedlen engine: one workload per run.

    python3 perfbench/run.py --workload {fixedlen,analytics} \
        --seed N --seconds S --trace {0,1} [--scale K]

Run from the root of a checkout.  The run prepares the seeded inputs
(cached per seed under ``.perfbench/``), sets up a ``local[nproc]`` Spark
application (its warm-up is one untimed pass of the workload), then runs
the workload's passes from one closed-loop client until ``--seconds`` have
passed (at least one pass), checking every op's output.  The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  A traced run also writes its spans to
``.perfbench/traces/``.  Everything the run writes stays under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hadoop_fixedlengthinputformat_spark"
DEFAULT_SCALE = 5  # tests/gen_testdata scale: 10 = the sf0.01 shape
DRIVER_MEMORY = "2g"
RSS_INTERVAL_S = 0.2
STOP_TIMEOUT_S = 60


@dataclass
class OpRun:
    name: str
    kind: str
    pass_no: int
    seconds: float
    nbytes: int
    ok: bool
    spark: dict | None = None  # traced runs: status_store.summarize() of the op


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("fixedlen", "analytics"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=int, default=DEFAULT_SCALE)
    return p.parse_args(argv)


def check_checkout() -> None:
    """Refuse to run outside a checkout of the engine."""
    needed = [
        os.path.join(ROOT, PACKAGE, "__init__.py"),
        os.path.join(ROOT, "__spark_entry__.py"),
        os.path.join(ROOT, "tests", "parity.py"),
        os.path.join(ROOT, "tests", "gen_testdata.py"),
    ]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        raise SystemExit(f"perfbench: not a checkout of the engine; missing {missing}")


def isolate_scratch(work_root: str, seed_tmp: str) -> None:
    """Keep every file the run (and its JVM and Python workers) writes
    inside the checkout."""
    local = os.path.join(work_root, "spark-local")
    for d in (seed_tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = seed_tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEMORY)
    java_opts = f"-Djava.io.tmpdir={seed_tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--conf "spark.driver.extraJavaOptions={java_opts}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work_root, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of this process and everything it started."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop_evt.wait(RSS_INTERVAL_S)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


class Context:
    """What a workload's ops need: the session, inputs, checker, tally, and
    (traced runs) the tracer and the status-store reader."""

    def __init__(self, seed, inputs, queries, checker, tally, tracer):
        self.seed = seed
        self.cores = os.cpu_count() or 1
        self.inputs = inputs
        self.queries = queries
        self.checker = checker
        self.tally = tally
        self.tracer = tracer
        self.spark = None
        self.store = None
        self.pass_no = 0
        self.ops: list[OpRun] = []
        self.readout_s = 0.0
        self.warming_up = False  # ops of the set-up pass are not measured
        self.warmup_check_s = 0.0
        self.input_bytes: dict[str, int] = {}
        self.checked: set[str] = set()

    def run_op(self, name, kind, body, check, nbytes) -> None:
        """Time ``body`` (the op, materialized); then, untimed, read Spark's
        status store (traced runs) and check the result."""
        problems: list[str] = []
        result = None
        with self.tracer.span(f"op:{name}", kind=kind, pass_no=self.pass_no) as span:
            t0 = time.perf_counter()
            try:
                result = body()
            except Exception as exc:  # an op that raises counts as failed
                problems = [f"EXCEPTION: {type(exc).__name__}: {exc}"]
            seconds = time.perf_counter() - t0
        spark = self._read_store(span.span_id) if self.store is not None else None
        t_check = time.perf_counter()
        if not problems:
            try:
                problems = check(result)
            except Exception as exc:
                problems = [f"CHECK EXCEPTION: {type(exc).__name__}: {exc}"]
        ok = self.tally.record(name, problems)
        if self.warming_up:
            self.warmup_check_s += time.perf_counter() - t_check
        else:
            self.ops.append(OpRun(name, kind, self.pass_no, seconds, nbytes() if ok else 0, ok, spark))

    def wait_for_listeners(self) -> None:
        """Spark posts execution and task ends asynchronously; drain the
        listener bus so the status store holds the finished op."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def _read_store(self, op_span: int) -> dict:
        """Executions the op ran, as child spans of the op and one summary."""
        import status_store

        t0 = time.perf_counter()
        with self.tracer.span("trace.readout"):
            self.wait_for_listeners()
            execs = self.store.new_executions()
            for ex in execs:
                sid = self.tracer.add(
                    "spark.execution", ex.start, ex.end or ex.start, op_span,
                    execution_id=ex.execution_id,
                )
                for st in ex.stages:
                    if st.start is not None:
                        self.tracer.add(
                            "spark.stage", st.start, st.end or st.start, sid,
                            stage_id=st.stage_id, tasks=st.num_tasks, skew=st.skew,
                        )
        self.readout_s += time.perf_counter() - t0
        return status_store.summarize(execs)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child process."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=STOP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + STOP_TIMEOUT_S
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def setup(ctx, workload) -> dict[str, float]:
    """Process start to ready: ``get_session`` (which launches the JVM),
    source registration and one warm-up of every op: a whole pass, whose
    outputs are the run's checked first executions.  Checking time and
    the checks' reference state are not part of set-up."""
    from hadoop_fixedlengthinputformat_spark.tables import get_session

    with ctx.tracer.span("setup"):
        t0 = time.perf_counter()
        with ctx.tracer.span("tables.get_session"):
            ctx.spark = get_session("perfbench", cpus=ctx.cores)
            ctx.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        workload.begin(ctx)
        t2 = time.perf_counter()
        with ctx.tracer.span("spark.warmup"):
            ctx.warming_up = True
            workload.one_pass(ctx)
            ctx.warming_up = False
        t3 = time.perf_counter()
    return {"get_session_s": t1 - t0, "warmup_s": t3 - t2 - ctx.warmup_check_s}


def handoff_probe(ctx, read_decode_s_per_mb) -> dict[str, float]:
    """The full ``lineitem`` scan through Spark, read from the status
    store: bytes handed from Python to the JVM, scan tasks and their
    times, and the wall time not explained by in-process read+decode."""
    import status_store

    ctx.wait_for_listeners()
    ctx.store.new_executions()
    mb = ctx.inputs.size("lineitem_fixed") / 1e6
    with ctx.tracer.span("handoff.scan") as span:
        t0 = time.perf_counter()
        ctx.queries["scan_fixedlen_wide"](ctx.spark, ctx.inputs.sf_dir).collect()
        wall = time.perf_counter() - t0
        ctx.wait_for_listeners()
        s = status_store.summarize(ctx.store.new_executions())
        span.attrs.update(s)
    return {
        "handoff.bytes_per_input_byte": s["scan_python_returned_bytes"] / (mb * 1e6),
        "handoff.scan_tasks": float(s["tasks"]),
        "handoff.task_p50_s": s["task_p50_s"],
        "handoff.task_max_s": s["task_max_s"],
        "handoff.overhead_s": wall - read_decode_s_per_mb * mb / max(1, min(s["tasks"], ctx.cores)),
    }


def per_pass_median(ops: list[OpRun], key: str) -> float:
    per_pass: dict[int, float] = {}
    for o in ops:
        per_pass[o.pass_no] = per_pass.get(o.pass_no, 0.0) + o.spark[key]
    return statistics.median(per_pass.values())


def per_layer_metrics(ctx, timings, probe_metrics, handoff) -> dict[str, float]:
    return {
        "prepare_s": ctx.inputs.prepare_s,
        "tables.get_session_s": timings["get_session_s"],
        "spark.warmup_s": timings["warmup_s"],
        **probe_metrics,
        **handoff,
        "operators.tasks": per_pass_median(ctx.ops, "tasks"),
        "operators.shuffle_bytes": per_pass_median(ctx.ops, "shuffle_bytes"),
        "operators.spill_bytes": per_pass_median(ctx.ops, "spill_bytes"),
        "operators.task_skew": statistics.median(o.spark["task_skew"] for o in ctx.ops),
        "functions.udf_arrow_bytes": per_pass_median(ctx.ops, "udf_arrow_bytes"),
        "trace.overhead_share": ctx.readout_s / sum(o.seconds for o in ctx.ops),
    }


def op_table(ops: list[OpRun]) -> dict[str, float]:
    """Per-op breakdown for the trace file, keyed the way later changes cite
    it: ``operators.<op>_s``, ``.shuffle_bytes``, ``.spill_bytes``,
    ``.tasks``, ``.task_skew``, ``.udf_arrow_bytes`` (medians over the op's
    executions)."""
    by_name: dict[str, list[OpRun]] = {}
    for o in ops:
        by_name.setdefault(o.name, []).append(o)
    table = {}
    for name, runs in by_name.items():
        table[f"operators.{name}_s"] = statistics.median(o.seconds for o in runs)
        for key in ("shuffle_bytes", "spill_bytes", "tasks", "task_skew", "udf_arrow_bytes"):
            table[f"operators.{name}.{key}"] = statistics.median(o.spark[key] for o in runs)
    return table


def declared_units(section: str) -> dict[str, str]:
    """Metric name -> unit, as declared in the checkout's BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def main(argv=None) -> int:
    args = parse_args(argv)
    check_checkout()
    work_root = os.path.join(ROOT, ".perfbench")
    cache_root = os.path.join(work_root, "cache")
    import prepare as prep

    isolate_scratch(work_root, os.path.join(prep.seed_dir(cache_root, args.seed, args.scale), "tmp"))
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

    import __spark_entry__ as entry

    import probes
    from checks import Checker, Tally
    from tracing import Tracer
    from workloads import WORKLOADS, LookupGen

    imports_s = time.perf_counter() - PROCESS_START
    workload = WORKLOADS[args.workload]()
    traced = bool(args.trace)
    tracer = Tracer(traced)
    sampler = RssSampler()
    if traced:
        sampler.start()

    inputs = prep.prepare(cache_root, args.seed, args.scale, fixtures=workload.needs_fixtures or traced)
    checker = Checker(inputs.sf_dir, entry.oracle_sql())
    ctx = Context(args.seed, inputs, entry.queries(), checker, Tally(), tracer)
    try:
        with tracer.span(f"workload:{args.workload}", seed=args.seed, scale=args.scale):
            timings = setup(ctx, workload)
            if traced:
                from status_store import StatusStore

                ctx.store = StatusStore(ctx.spark)
            t_start = time.perf_counter()
            while True:
                with tracer.span("pass", pass_no=ctx.pass_no):
                    workload.one_pass(ctx)
                ctx.pass_no += 1
                if time.perf_counter() - t_start >= args.seconds:
                    break
            if traced:
                lookups = LookupGen(args.seed, inputs.sf_dir)
                probe_metrics = probes.run_all(tracer, inputs, [lookups.next() for _ in range(4)])
                handoff = handoff_probe(ctx, probe_metrics["fixedlen.read_decode_s_per_mb"])
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        checker.close()
        peak_rss = sampler.stop() if traced else 0

    setup_s = imports_s + timings["get_session_s"] + timings["warmup_s"]
    for name, problems in ctx.tally.problems:
        print(f"FAILED {name}: {problems}", file=sys.stderr)
    print(
        f"perfbench: prepare {inputs.prepare_s:.2f}s, set-up {setup_s:.2f}s, "
        f"{ctx.pass_no} pass(es), {len(ctx.ops)} ops, total "
        f"{time.perf_counter() - PROCESS_START:.1f}s",
        file=sys.stderr,
    )
    if traced:
        metrics = {**per_layer_metrics(ctx, timings, probe_metrics, handoff), "peak_rss_mb": peak_rss / 1e6}
        units = declared_units("per_layer")
        tracer.dump(
            os.path.join(work_root, "traces", f"{args.workload}-seed{args.seed}-{tracer.run_id}.json"),
            {
                "workload": args.workload,
                "seed": args.seed,
                "scale": args.scale,
                "setup_s": setup_s,
                "end_to_end_in_traced_run": workload.end_to_end(ctx.ops),
                "per_layer": metrics,
                "ops": op_table(ctx.ops),
            },
        )
    else:
        metrics = {"setup_s": setup_s, **workload.end_to_end(ctx.ops)}
        units = declared_units("end_to_end")
    result = {
        "correct": ctx.tally.failed == 0,
        "attempted": ctx.tally.attempted,
        "failed": ctx.tally.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
