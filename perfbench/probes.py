"""Spans and Spark counters for the traced benchmark run.

Spans are recorded from the benchmark's own code around each call into
an engine layer (setup steps, and per query execution ``build`` ->
``optimize`` -> ``execute`` under one ``query`` span). They stay in
memory and are written out when the run ends.

Counters are read at span boundaries from the scheduler and the two
status stores, which Spark keeps with ``spark.ui.enabled=false``:

- jobs and stages by id window (``DAGScheduler.nextJobId`` /
  ``nextStageId`` before and after a call). A window also catches jobs
  a call starts on other threads (streaming micro-batches), which a job
  group would miss;
- per-stage task metrics from ``AppStatusStore.stageData``. A stage
  whose shuffle output is reused is stored as SKIPPED with its planned
  task count; it counts under ``stages_skipped`` only, so ``stages``,
  ``tasks`` and the task metrics are work that ran;
- SQL executions from ``SQLAppStatusStore`` and their formatted
  Python-worker metrics ("data sent to Python workers: 1471.1 KiB").
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL metric name -> counter name (sizes in MB, timings in s)
PYTHON_METRICS = {
    "data sent to Python workers": "python_sent_mb",
    "data returned from Python workers": "python_returned_mb",
    "time to run Python workers": "python_run_s",
    "time to initialize Python workers": "python_init_s",
}
_UNITS = {
    "B": 1e-6,
    "KiB": 1024 / 1e6,
    "MiB": 1024**2 / 1e6,
    "GiB": 1024**3 / 1e6,
    "TiB": 1024**4 / 1e6,
    "ns": 1e-9,
    "us": 1e-6,
    "µs": 1e-6,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "min": 60.0,
    "h": 3600.0,
}
_VALUE = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-zµ]+)")

# physical-plan node name -> plan-shape counter
PLAN_NODES = {
    "Exchange": "plan.exchange",
    "BroadcastExchange": "plan.broadcast",
    "Generate": "plan.generate",
    "Expand": "plan.expand",
    "BroadcastNestedLoopJoin": "plan.nested_loop",
    "CartesianProduct": "plan.nested_loop",
    "InMemoryTableScan": "plan.inmemory_scan",
}
PLAN_COUNTERS = sorted(set(PLAN_NODES.values()) | {"plan.python"})
_PLAN_LINE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")

STAGE_FIELDS = {
    "numCompleteTasks": ("tasks", 1.0),
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("jvm_gc_s", 1e-3),
    "inputBytes": ("input_mb", 1e-6),
    "inputRecords": ("input_rows", 1.0),
    "shuffleReadBytes": ("shuffle_read_mb", 1e-6),
    "shuffleWriteBytes": ("shuffle_write_mb", 1e-6),
    "memoryBytesSpilled": ("spill_mb", 1e-6),
    "diskBytesSpilled": ("spill_mb", 1e-6),
}


def parse_metric_value(text: str) -> float:
    """Value of one formatted SQL metric, in MB or seconds.

    Spark prints a one-task metric as ``"147.9 KiB"`` and a multi-task
    one as ``"total (min, med, max ...)\\n1.4 MiB (12 KiB, ...)"``; the
    total is the first value on the last line."""
    m = _VALUE.search(text.strip().splitlines()[-1])
    if m is None or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def plan_shape(plan_text: str) -> dict[str, int]:
    """Count physical operators in an ``executedPlan`` tree string."""
    counts = dict.fromkeys(PLAN_COUNTERS, 0)
    for line in plan_text.splitlines():
        m = _PLAN_LINE.match(line)
        if m is None:
            continue
        node = m.group(1)
        if node in PLAN_NODES:
            counts[PLAN_NODES[node]] += 1
        elif "Python" in node or "Pandas" in node or "Arrow" in node:
            counts["plan.python"] += 1
    return counts


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block; yields the span (None when
        disabled) so the block can attach attributes."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), parent, name, time.perf_counter(), attrs=attrs)
        self.spans.append(span)
        self._stack.append(span)
        try:
            yield span
        except Exception as e:
            span.attrs["error"] = type(e).__name__
            raise
        finally:
            span.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        children cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            own = s.end - s.start - child_time.get(s.id, 0.0)
            out[s.name] = out.get(s.name, 0.0) + own
        return out

    def dump(self) -> dict:
        t0 = self.spans[0].start if self.spans else 0.0
        return {
            "trace_id": self.run_id,
            "spans": [
                {
                    "trace_id": self.run_id,
                    "id": s.id,
                    "parent": s.parent,
                    "name": s.name,
                    "start_s": round(s.start - t0, 6),
                    "end_s": round(s.end - t0, 6),
                    "attrs": s.attrs,
                }
                for s in self.spans
            ],
            "self_time_s": {k: round(v, 6) for k, v in self.self_times().items()},
        }


class Counters:
    """Reads cumulative Spark counters; ``mark()`` / ``since(mark)``
    give the counters of everything that ran in between."""

    def __init__(self, spark):
        self._spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._jsc = jsc
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = spark.sparkContext._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def mark(self) -> tuple[int, int, int]:
        return (
            int(self._dag.nextJobId()),
            int(self._dag.nextStageId()),
            int(self._sql.executionsCount()),
        )

    def since(self, mark: tuple[int, int, int]) -> dict[str, float]:
        # the status stores are filled by the listener bus; drain it
        # so every finished stage and execution is visible
        self._jsc.listenerBus().waitUntilEmpty()
        jobs0, stages0, execs0 = mark
        jobs1, stages1, execs1 = self.mark()
        out = {
            "jobs": float(jobs1 - jobs0),
            "stages": 0.0,
            "stages_skipped": 0.0,
            "sql_executions": float(execs1 - execs0),
        }
        for name, _ in STAGE_FIELDS.values():
            out[name] = 0.0
        for name in PYTHON_METRICS.values():
            out[name] = 0.0
        for sid in range(stages0, stages1):
            attempts = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
            ran = [
                data
                for data in (attempts.apply(i) for i in range(attempts.size()))
                if data.status().toString() != "SKIPPED"
            ]
            if ran:
                out["stages"] += 1
            elif attempts.size():
                out["stages_skipped"] += 1
            for data in ran:
                for getter, (name, scale) in STAGE_FIELDS.items():
                    out[name] += getattr(data, getter)() * scale
        if execs1 > execs0:
            execs = self._sql.executionsList(execs0, execs1 - execs0)
            for i in range(execs.size()):
                self._python_metrics(execs.apply(i).executionId(), out)
        return out

    def _python_metrics(self, execution_id: int, out: dict[str, float]) -> None:
        values = self._sql.executionMetrics(execution_id)
        nodes = self._sql.planGraph(execution_id).allNodes()
        for i in range(nodes.size()):
            metrics = nodes.apply(i).metrics()
            for j in range(metrics.size()):
                metric = metrics.apply(j)
                name = PYTHON_METRICS.get(metric.name())
                if name is None:
                    continue
                value = values.get(metric.accumulatorId())
                if value.isDefined():
                    out[name] += parse_metric_value(value.get())
