"""Read Spark's own status stores after an op (traced runs only).

The SQL store (``sharedState().statusStore()``) gives each execution's
plan nodes and their metrics; the application store
(``SparkContext.statusStore()``) gives each stage's totals and its tasks.
Both are populated with ``spark.ui.enabled=false``.  Metric values come
back as the formatted strings the UI shows ("7.8 MiB", "2.3 s",
"6,000"); ``parse_metric`` turns the total back into a number.
"""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
MAX_TASKS = 100_000


def parse_metric(text: str) -> float | None:
    """Total of a SQL metric string: sizes in bytes, times in seconds,
    sums as plain numbers."""
    line = text.strip().splitlines()[-1].strip()
    m = _NUM.match(line)
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt(scala_opt):
    return scala_opt.get() if scala_opt.isDefined() else None


@dataclass
class Stage:
    stage_id: int
    num_tasks: int
    start: float | None  # epoch seconds
    end: float | None
    shuffle_write_bytes: int
    spill_bytes: int  # memory-size of spilled data
    task_durations: list[float] = field(default_factory=list)  # seconds

    @property
    def skew(self) -> float | None:
        d = self.task_durations
        if len(d) < 2:
            return None
        med = statistics.median(d)
        return max(d) / med if med > 0 else None


@dataclass
class Execution:
    execution_id: int
    start: float
    end: float | None
    # (node name, metric name) -> summed value over nodes of that name
    node_metrics: dict[tuple[str, str], float] = field(default_factory=dict)
    stages: list[Stage] = field(default_factory=list)


class StatusStore:
    """Incremental reader: ``new_executions()`` returns the executions
    started since the previous call; call it once the op's jobs ended and
    the listener bus is drained."""

    def __init__(self, spark):
        self.spark = spark
        self._last_id = max((e.execution_id for e in self._list()), default=-1)

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _list(self) -> list[Execution]:
        out = []
        for e in _seq(self._sql_store().executionsList()):
            end = _opt(e.completionTime())
            out.append(
                Execution(
                    e.executionId(),
                    e.submissionTime() / 1000.0,
                    end.getTime() / 1000.0 if end is not None else None,
                )
            )
        return out

    def new_executions(self) -> list[Execution]:
        fresh = [e for e in self._list() if e.execution_id > self._last_id]
        if not fresh:
            return []
        self._last_id = max(e.execution_id for e in fresh)
        sql = self._sql_store()
        app = self.spark.sparkContext._jsc.sc().statusStore()
        for ex in fresh:
            raw = sql.executionMetrics(ex.execution_id)
            for node in _seq(sql.planGraph(ex.execution_id).allNodes()):
                for m in _seq(node.metrics()):
                    text = _opt(raw.get(m.accumulatorId()))
                    value = parse_metric(text) if text else None
                    if value is not None:
                        key = (node.name().strip(), m.name())
                        ex.node_metrics[key] = ex.node_metrics.get(key, 0.0) + value
            stage_ids = _seq(sql.execution(ex.execution_id).get().stages().toSeq())
            for sid in sorted(stage_ids):
                ex.stages.append(_stage(app, sid))
        return fresh


def _stage(app, sid: int) -> Stage:
    sd = app.lastStageAttempt(sid)
    sub, done = _opt(sd.submissionTime()), _opt(sd.completionTime())
    st = Stage(
        sid,
        sd.numTasks(),
        sub.getTime() / 1000.0 if sub is not None else None,
        done.getTime() / 1000.0 if done is not None else None,
        sd.shuffleWriteBytes(),
        sd.memoryBytesSpilled(),
    )
    for td in _seq(app.taskList(sid, sd.attemptId(), MAX_TASKS)):
        dur = _opt(td.duration())
        if dur is not None:
            st.task_durations.append(dur / 1000.0)
    return st


def summarize(executions: list[Execution]) -> dict[str, float]:
    """Per-op totals over the executions an op ran."""
    stages = [s for e in executions for s in e.stages]
    durations = [d for s in stages for d in s.task_durations]
    skews = [s.skew for s in stages if s.skew is not None]

    def node_sum(metric: str, node_prefix: str = "") -> float:
        return sum(
            v
            for e in executions
            for (node, name), v in e.node_metrics.items()
            if name == metric and node.startswith(node_prefix)
        )

    return {
        "tasks": sum(s.num_tasks for s in stages),
        "task_p50_s": statistics.median(durations) if durations else 0.0,
        "task_max_s": max(durations) if durations else 0.0,
        "task_skew": max(skews) if skews else 1.0,
        "shuffle_bytes": sum(s.shuffle_write_bytes for s in stages),
        "spill_bytes": sum(s.spill_bytes for s in stages),
        "scan_python_returned_bytes": node_sum(
            "data returned from Python workers", "BatchScan"
        ),
        "udf_arrow_bytes": node_sum("data returned from Python workers", "ArrowEvalPython")
        + node_sum("data sent to Python workers", "ArrowEvalPython"),
    }
