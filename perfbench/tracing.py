"""Spans, per-op Spark job summaries and executed-plan metrics.

Everything here observes the engine from outside:

* :class:`Tracer` records spans (name, start, end, parent, op id) around
  the benchmark's own calls into each layer and keeps them in memory.
* :func:`job_summary` reads the jobs of one op, labelled by
  ``setJobGroup``, from the driver's live status store.  That store is
  fed by the same listener events the Spark event log records, so it
  yields the event log's per-stage task metrics without writing a log
  file.
* :func:`plan_nodes` walks an action's executed physical plan,
  descending into adaptive query stages, and returns each operator's
  SQL metrics.

:class:`NullTracer` is what untraced runs use: it sets no job group and
reads nothing, so tracing costs nothing when off.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager


class NullTracer:
    @contextmanager
    def span(self, name: str):
        yield

    @contextmanager
    def op(self, spark, op_id: str):
        yield


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, spark, op_id: str):
        """Record an ``op`` span, parent of the layer spans inside it, and
        label every Spark job started inside the block with `op_id`."""
        sc = spark.sparkContext
        sc.setJobGroup(op_id, op_id)
        self._op_id = op_id
        try:
            with self.span("op"):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._op_id = None

    def total(self, name: str, op_id: str | None = None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (op_id is None or s["op"] == op_id)
        )


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


def job_summary(spark, op_id: str, op_start_ms: float, op_end_ms: float) -> dict:
    """Aggregate task metrics over the jobs in job group `op_id`.

    ``driver_s`` is the op's wall time minus the part of it covered by
    at least one of its jobs; ``task_skew`` is max / median task
    duration in the op's longest-running stage."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = [j for j in _seq(store.jobsList(None)) if _opt(j.jobGroup()) == op_id]
    out = {
        "jobs": len(jobs),
        "exec_cpu_s": 0.0,
        "exec_run_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "tasks": 0,
    }
    spans = []
    heaviest = None
    for j in jobs:
        t0, t1 = _opt(j.submissionTime()), _opt(j.completionTime())
        if t0 is not None and t1 is not None:
            spans.append((max(t0.getTime(), op_start_ms), min(t1.getTime(), op_end_ms)))
        for sid in _seq(j.stageIds()):
            for st in _seq(store.stageData(sid, False, None, False, None)):
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["exec_run_s"] += st.executorRunTime() / 1e3
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
                out["tasks"] += st.numTasks()
                if heaviest is None or st.executorRunTime() > heaviest[0]:
                    heaviest = (st.executorRunTime(), sid, st.attemptId())
    covered, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > end:
            covered += b - max(a, end)
            end = b
    out["driver_s"] = max(0.0, (op_end_ms - op_start_ms - covered) / 1e3)
    out["task_skew"] = 0.0
    if heaviest is not None:
        tasks = _seq(store.taskList(heaviest[1], heaviest[2], 100_000))
        durs = [_opt(t.duration()) for t in tasks]
        durs = [float(d) for d in durs if d is not None]
        if durs and statistics.median(durs) > 0:
            out["task_skew"] = max(durs) / statistics.median(durs)
    return out


def plan_nodes(df) -> list[dict]:
    """Pre-order list of {name, depth, rows, metrics} for the executed plan
    of `df`'s last action.  Adaptive plans are replaced by their final
    plan and query stages by the plan they wrap; metrics are read from
    each operator's SQLMetric map."""
    out: list[dict] = []

    def walk(node, depth):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), depth)
        if cls.endswith("QueryStageExec"):
            return walk(node.plan(), depth)
        if cls in ("ReusedExchangeExec",):
            return walk(node.child(), depth)
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append({"name": cls, "depth": depth, "rows": metrics.get("numOutputRows"), "metrics": metrics})
        kids = node.children()
        for i in range(kids.length()):
            walk(kids.apply(i), depth + 1)

    walk(df._jdf.queryExecution().executedPlan(), 0)
    return out
