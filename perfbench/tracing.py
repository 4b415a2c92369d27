"""Spans and counters for the traced run, recorded around calls into the
engine's public functions from the benchmark's own files.

Spans form the tree workload -> pass -> key -> {construct, plan, execute},
plus setup -> {catalog.import, session.start, registry.load_tables}. They
are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import time
import types
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, root_id: int) -> dict[str, float]:
        """Self time per span name over the subtree under ``root_id``: each
        span's duration minus that of its children (children of one span
        never overlap, they run one after another)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        todo = [self.spans[root_id]]
        while todo:
            s = todo.pop()
            kids = children.get(s["id"], [])
            own = (s["end"] - s["start"]) - sum(k["end"] - k["start"] for k in kids)
            out[s["name"]] = out.get(s["name"], 0.0) + own
            todo.extend(kids)
        return out


class Py4jCounter:
    """Counts py4j commands the driver sends while installed."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self.count = 0

    def __enter__(self) -> "Py4jCounter":
        send = self._client.send_command

        def counting(*args, **kwargs):
            self.count += 1
            return send(*args, **kwargs)

        self._client.send_command = counting
        return self

    def __exit__(self, *exc) -> None:
        del self._client.send_command


class StreamCapture:
    """Keeps every StreamingQuery started while installed, so that the batch
    count of each bounded drain can be read after the pass."""

    def __init__(self) -> None:
        self.queries: list = []

    def __enter__(self) -> "StreamCapture":
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        self._cls, self._start = DataStreamWriter, DataStreamWriter.start
        start, queries = self._start, self.queries

        def capturing(writer, *args, **kwargs):
            q = start(writer, *args, **kwargs)
            queries.append(q)
            return q

        DataStreamWriter.start = capturing
        return self

    def __exit__(self, *exc) -> None:
        self._cls.start = self._start


def executed_plan_metrics(df):
    """The engine's execution-metrics summary of ``df``'s already-executed
    plan. ``execution_metrics`` collects before it walks; handing it a view
    whose collect is a no-op reads the plan the timed call just ran instead
    of running it a second time."""
    from etl_asana_spark.plans.metrics import execution_metrics

    return execution_metrics(types.SimpleNamespace(collect=lambda: None, _jdf=df._jdf))


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages that ran at least one task, tasks completed) for one
    job group, from the status tracker."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            if stage is not None and stage.numCompletedTasks > 0:
                stages += 1
                tasks += stage.numCompletedTasks
    return len(jobs), stages, tasks


def wait_for_listeners(spark) -> None:
    """Block until the listener bus has delivered every event, so the status
    tracker has seen every job the pass ran."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
