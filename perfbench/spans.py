"""In-memory spans and the Spark counters recorded at span boundaries.

A span has a name, start, end, parent span and the run id. Spans stay
in memory and are written out once, when the run ends. A disabled
tracer hands out spans that only keep start and end, so the untraced
run pays two clock reads per span and nothing else.

A traced span may also tag the Spark jobs it launches with a job group
of its own; on exit it reads their job, stage and task counts from
``statusTracker``, and the rows out of Python/Arrow evaluation nodes in
the SQL executions the span started (a builder's eager passes), from the
SQL status store.
``plan_metrics`` walks an executed plan for the SQL metrics Spark
already keeps (the ``tools/run_query.py --metrics`` walk).
``percentile`` is the one percentile every reported latency uses.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager

_PYTHON_NODE_MARKERS = ("Python", "Pandas", "MapInArrow")


def percentile(values, q: int) -> float:
    """The q-th percentile (0 < q < 100), interpolated between the two
    nearest samples (never beyond the largest, as small samples are)."""
    values = list(values)
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs")

    def __init__(self, span_id, name, parent):
        self.id = span_id
        self.name = name
        self.parent = parent
        self.start = time.time()
        self.end = None
        self.attrs = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        """Time a block. With tracing on, the span is kept, parented to
        the enclosing span of this thread, and with ``jobs`` the block's
        Spark jobs are counted under a job group of its own."""
        stack = self._stack()
        s = Span(next(self._ids), name, stack[-1].id if stack else None)
        if not self.enabled:
            try:
                yield s
            finally:
                s.end = time.time()
            return
        sc = self.spark.sparkContext
        group = f"{self.run_id}:{s.id}" if jobs else None
        if group:
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            prev_desc = sc.getLocalProperty("spark.job.description")
            sc.setJobGroup(group, name)
            store = self.spark._jsparkSession.sharedState().statusStore()
            first_execution = _last_execution_id(store) + 1
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if group:
                s.attrs.update(job_counts(sc, group))
                s.attrs["python_rows"] = python_rows(store, first_execution)
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
                sc.setLocalProperty("spark.job.description", prev_desc)
            with self._lock:
                self.spans.append(s)

    def add(self, name: str, start: float, end: float, parent: Span | None) -> None:
        """Record a span measured elsewhere (a phase timed inside the program)."""
        if not self.enabled:
            return
        s = Span(next(self._ids), name, parent.id if parent else None)
        s.start, s.end = start, end
        with self._lock:
            self.spans.append(s)

    def records(self) -> list[dict]:
        with self._lock:
            spans = sorted(self.spans, key=lambda s: s.start)
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "run_id": self.run_id,
             "start": s.start, "end": s.end, **s.attrs}
            for s in spans
        ]

    def self_seconds(self, only: set[int] | None = None) -> dict[str, float]:
        """Per layer (span name up to its first ``:``): total duration
        minus the part of each span's interval its children cover.
        With ``only``, just the spans with those ids count."""
        with self._lock:
            spans = list(self.spans)
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            if only is not None and s.id not in only:
                continue
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])]
            )
            layer = s.name.split(":")[0]
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.records(),
                       "self_s": self.self_seconds()}, f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def job_counts(sc, group: str) -> dict[str, int]:
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for job_id in tracker.getJobIdsForGroup(group):
        jobs += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _last_execution_id(store) -> int:
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def python_rows(store, first_execution: int) -> int:
    """Rows out of Python/Arrow evaluation nodes, summed over the SQL
    executions with an id from ``first_execution`` on."""
    total = 0
    n = store.executionsCount()
    for offset in range(n - 1, -1, -1):
        execution = store.executionsList(offset, 1).apply(0)
        eid = execution.executionId()
        if eid < first_execution:
            break
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not any(m in node.name() for m in _PYTHON_NODE_MARKERS):
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                metric = metrics.apply(j)
                value = values.get(metric.accumulatorId())
                if metric.name() == "number of output rows" and value.isDefined():
                    total += int(value.get().replace(",", ""))
    return total


def plan_metrics(plan) -> dict[str, int]:
    """Sum SQL metrics over an executed physical plan (JVM object).

    ``output_rows`` adds every operator's output rows, ``python_rows``
    those of the Python/Arrow evaluation nodes, and the byte counters
    come from shuffle exchanges and spilling operators. Reused
    exchanges and cached inputs are counted once."""
    out = {"output_rows": 0, "python_rows": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    seen: set = set()

    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
            return
        if name.endswith("QueryStage"):
            walk(node.plan())
            return
        if name.startswith("ReusedExchange"):
            return
        if name == "InMemoryTableScan":
            # a cached input: count the plan that built it, once
            cached = node.relation().cachedPlan()
            key = cached.hashCode()
            if key not in seen:
                seen.add(key)
                walk(cached)
        values = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2().value()
        rows = values.get("numOutputRows", 0)
        out["output_rows"] += rows
        if any(m in name for m in _PYTHON_NODE_MARKERS):
            out["python_rows"] += rows
        out["shuffle_write_bytes"] += values.get("shuffleBytesWritten", 0)
        out["spill_bytes"] += values.get("spillSize", 0)
        children = node.children()
        for i in range(children.length()):
            walk(children.apply(i))
        subqueries = node.subqueries()
        for i in range(subqueries.length()):
            walk(subqueries.apply(i))

    walk(plan)
    return out
