"""Spans around the library's public calls, and an outside-in reader of
Spark's own status surfaces.

A span records name, start, end, parent and the benchmark job it
belongs to, and runs under its own Spark job group, so the Spark jobs
it launched can be read back afterwards through
``statusTracker().getJobIdsForGroup`` and
``statusStore().lastStageAttempt``. Both work with
``spark.ui.enabled=false``. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import re
import time
from dataclasses import dataclass


class Unavailable:
    """A metric that could not be read, with the reason."""

    def __init__(self, reason: str):
        self.reason = reason

    def __repr__(self) -> str:
        return f"unavailable ({self.reason})"


@dataclass
class Span:
    span_id: int
    name: str
    job: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; each span is its own Spark job group.

    ``bookkeeping[job]`` is the time the tracer itself spent inside that
    job's timed interval (opening and closing spans, job-group calls):
    the tracing overhead, measured directly."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.job = -1
        self.bookkeeping: dict[int, float] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        # a plugin calling its own base-class method (or a sub-plugin)
        # stays inside the outer span of the same layer
        if any(s.name == name for s in self._stack):
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, self.job,
                  parent.span_id if parent else None, t0)
        sp.group = f"perfbench-{id(self)}-{sp.span_id}"
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping[self.job] = self.bookkeeping.get(
                self.job, 0.0) + (sp.start - t0) + (time.perf_counter()
                                                    - sp.end)

    def job_spans(self, job: int) -> list[Span]:
        return [s for s in self.spans if s.job == job]


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)
    return traced


def _subclasses(base) -> list[type]:
    out, todo = [base], [base]
    while todo:
        for sub in todo.pop().__subclasses__():
            if sub not in out:
                out.append(sub)
                todo.append(sub)
    return out


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the library's layer entry points in spans for the duration
    of the block, then restore the originals.

    Covered: ``JobEngine.build_tables`` and ``JobEngine.run`` (job),
    every ``Source.read`` (sources), every ``Transform.apply``
    (transforms), every ``Sink.write`` (sinks) and
    ``LakehouseTable.merge_apply``/``commit`` (sinks.lakehouse)."""
    from seatunnel_spark.job.engine import JobEngine
    from seatunnel_spark.sinks.base import Sink
    from seatunnel_spark.sinks.lakehouse import LakehouseTable
    from seatunnel_spark.sources.base import Source
    from seatunnel_spark.transforms.base import Transform

    targets = [(JobEngine, "build_tables", "job.plan"),
               (JobEngine, "run", "job.run"),
               (LakehouseTable, "merge_apply", "sinks.lakehouse.merge"),
               (LakehouseTable, "commit", "sinks.lakehouse.commit")]
    for base, attr, name in ((Source, "read", "sources.read"),
                             (Transform, "apply", "transforms.apply"),
                             (Sink, "write", "sinks.write")):
        targets += [(cls, attr, name) for cls in _subclasses(base)
                    if attr in cls.__dict__]
    saved = [(cls, attr, cls.__dict__[attr]) for cls, attr, _ in targets]
    try:
        for cls, attr, name in targets:
            setattr(cls, attr, _wrap(tracer, name, cls.__dict__[attr]))
        yield tracer
    finally:
        for cls, attr, orig in saved:
            setattr(cls, attr, orig)


# Operator scopes of stages that run Python workers (Arrow/pandas UDFs,
# mapInPandas, co-grouped pandas, Python RDDs).
_PYTHON_SCOPE = re.compile(r'label="[^"]*(Python|Pandas|InArrow|ArrowEval)')

STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_rows": "inputRecords",
    "output_bytes": "outputBytes",
    "output_rows": "outputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


class SparkCollector:
    """Reads per-job-group stage totals from the driver's status store
    over py4j. Every read that fails yields an ``Unavailable`` with the
    reason instead of a number."""

    def __init__(self, sc):
        self.sc = sc

    def _jvm_sc(self):
        return self.sc._jsc.sc()

    def drain(self) -> Unavailable | None:
        """Wait until the listener bus has delivered every event, so
        the status store holds the final numbers of finished jobs."""
        try:
            self._jvm_sc().listenerBus().waitUntilEmpty()
        except Exception as e:  # noqa: BLE001 — py4j surfaces JVM errors
            return Unavailable(f"listener bus: {_first_line(e)}")
        return None

    def group_jobs(self, group: str) -> list[int] | Unavailable:
        try:
            return sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        except Exception as e:  # noqa: BLE001
            return Unavailable(f"job ids of {group}: {_first_line(e)}")

    def stage_totals(self, job_ids: list[int] | Unavailable) -> dict:
        """Sum of STAGE_FIELDS over the stages these jobs ran (skipped
        stages excluded), plus stage, task and Python-stage counts."""
        totals = {k: 0 for k in STAGE_FIELDS}
        totals.update(stages=0, tasks=0, python_stages=0)
        if isinstance(job_ids, Unavailable):
            return {k: job_ids for k in totals}
        try:
            store = self._jvm_sc().statusStore()
            graph = self.sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
            seen: set[int] = set()
            for j in job_ids:
                ids = store.job(j).stageIds().mkString(",")
                for s in (int(x) for x in ids.split(",") if x):
                    if s in seen:
                        continue
                    seen.add(s)
                    sd = store.lastStageAttempt(s)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    totals["stages"] += 1
                    totals["tasks"] += sd.numTasks()
                    for k, getter in STAGE_FIELDS.items():
                        totals[k] += getattr(sd, getter)()
                    dot = graph.makeDotFile(store.operationGraphForStage(s))
                    totals["python_stages"] += bool(_PYTHON_SCOPE.search(dot))
        except Exception as e:  # noqa: BLE001
            reason = Unavailable(f"stage metrics: {_first_line(e)}")
            return {k: reason for k in totals}
        return totals


def _first_line(e: BaseException) -> str:
    return (str(e).strip().splitlines() or [type(e).__name__])[0][:200]
