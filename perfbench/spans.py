"""Spans around the benchmark's calls into the engine's layers.

Workloads reach the engine only through ``Layers``: ``layers.get("sources.
snapshots").commit_append(...)``. With tracing off the facade hands back the
engine's own function. With tracing on, every call runs under its own Spark
job group and is recorded as a span (name, start, end, parent, op id) with
the number of Spark jobs and stages the call ran, read back from
``statusTracker()``. Spans stay in memory until ``Tracer.dump``.
"""

from __future__ import annotations

import importlib
import itertools
import json
import time
from contextlib import contextmanager

PACKAGE = "customer_activity_lakehouse_spark"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark, self.enabled = spark, enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    def _counts(self, group: str) -> tuple[int, int]:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            stages += len(info.stageIds) if info is not None else 0
        return len(jobs), stages

    @contextmanager
    def span(self, name: str):
        """Record one span; job and stage counts cover this span's own calls
        (a nested span opens its own job group and counts separately)."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sid = next(self._ids)
        group = f"perfbench-{sid}"
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, name)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if outer is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(outer, outer)
            jobs, stages = self._counts(group)
            self.spans.append({
                "id": sid, "name": name, "start": start, "end": end,
                "parent": parent, "op": self.op_id, "jobs": jobs, "stages": stages,
            })

    def wrap(self, name: str, fn):
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Layer:
    def __init__(self, tracer: Tracer, module: str):
        self._tracer, self._module = tracer, module
        self._mod = importlib.import_module(f"{PACKAGE}.{module}")

    def __getattr__(self, attr: str):
        return self._tracer.wrap(f"{self._module}.{attr}", getattr(self._mod, attr))


class Layers:
    """Access to the engine's modules, each public call traced when on."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._cache: dict[str, _Layer] = {}

    def get(self, module: str) -> _Layer:
        if module not in self._cache:
            self._cache[module] = _Layer(self.tracer, module)
        return self._cache[module]


def per_call(spans: list[dict], self_s: dict[int, float], name: str) -> tuple[float, float, float]:
    """Mean self time, jobs and stages per call of the spans named ``name``
    (zeros when there are none)."""
    sel = [s for s in spans if s["name"] == name]
    n = len(sel) or 1
    return (sum(self_s[s["id"]] for s in sel) / n, sum(s["jobs"] for s in sel) / n,
            sum(s["stages"] for s in sel) / n)


def files_read(df) -> int:
    """Files read by the scans of an executed DataFrame: the sum of the
    ``numFiles`` SQL metric over its physical plan, adaptive stages included."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        metric = node.metrics().get("numFiles")
        if metric.isDefined():
            total += int(metric.get().value())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return total
