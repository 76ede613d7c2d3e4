"""Spans and per-layer counters, recorded from outside the engine.

Counters come from Spark's own status data: the core status store (jobs,
stages and their task metrics), the SQL status store (executions, plan
graphs, SQL metrics) and the block manager's RDD storage info. A
``Tracer`` takes a mark before a call and reads the delta after it,
draining the listener bus first so that trailing events have landed.
With tracing off every method is a no-op, so the untraced run pays
nothing beyond two clock reads per span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from distributed_causal_stream_processing_spark.benchlib import (
    _parse_metric_size,
    drain_listener_bus,
    execution_exchange_volume,
)

# operators.* counters summed over the stages, jobs and SQL executions a
# call started; the task-metric ones are stage aggregates in ms/ns/bytes
COUNTERS = (
    "sql_executions", "jobs", "stages", "tasks", "exchanges",
    "shuffle_records", "shuffle_bytes", "scan_bytes", "python_bytes",
    "spill_bytes", "task_run_s", "task_cpu_s", "gc_s", "fetch_wait_s",
)
_PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")


class _Mark:
    __slots__ = ("execution", "job", "stage")


def _newest_id(seq, getter, newest_first: bool) -> int:
    if not seq.size():
        return -1
    return getter(seq.apply(0 if newest_first else seq.size() - 1))


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None  # the session whose status data is read
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent reading status data

    # -- spans --------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields its dict so callers can attach
        counters. Spans nest: the enclosing span is the parent."""
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None, **attrs}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(len(self.spans) - 1)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def write(self, path: str) -> None:
        if self.enabled:
            with open(path, "w") as fh:
                json.dump(self.spans, fh)

    # -- status-store deltas ------------------------------------------
    def mark(self) -> _Mark | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        drain_listener_bus(self.spark)
        core = self._core()
        m = _Mark()
        # jobs and stages are listed newest first, SQL executions oldest first
        m.execution = _newest_id(self._sql().executionsList(), lambda e: e.executionId(), False)
        m.job = _newest_id(core.jobsList(None), lambda j: j.jobId(), True)
        m.stage = _newest_id(self._stage_list(core), lambda s: s.stageId(), True)
        self.overhead_s += time.perf_counter() - t0
        return m

    def delta(self, mark: _Mark | None) -> dict:
        """Counters for everything started since ``mark``; empty when
        tracing is off."""
        if mark is None:
            return {}
        t0 = time.perf_counter()
        drain_listener_bus(self.spark)
        out = dict.fromkeys(COUNTERS, 0)
        core = self._core()
        jobs = core.jobsList(None)
        out["jobs"] = max(0, _newest_id(jobs, lambda j: j.jobId(), True) - mark.job)
        stages = self._stage_list(core)
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark.stage:
                break
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["scan_bytes"] += s.inputBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["task_run_s"] += s.executorRunTime() / 1e3
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
        sql = self._sql()
        execs = sql.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            eid = execs.apply(i).executionId()
            if eid <= mark.execution:
                break
            out["sql_executions"] += 1
            records, nbytes = execution_exchange_volume(sql, eid)
            out["shuffle_records"] += records
            out["shuffle_bytes"] += nbytes
            out["exchanges"] += self._plan_counts(sql, eid, out)
        self.overhead_s += time.perf_counter() - t0
        return out

    def rdd_blocks(self) -> int:
        """Cached or checkpointed RDD partitions held right now."""
        if not self.enabled:
            return 0
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.numCachedPartitions() for i in infos)

    def _core(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _sql(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    @staticmethod
    def _stage_list(core):
        quantiles = getattr(core, "stageList$default$4")()
        return core.stageList(None, False, False, quantiles, None)

    @staticmethod
    def _plan_counts(sql, eid: int, out: dict) -> int:
        """Exchange-node count of one execution; adds the bytes crossing
        the Python boundary on Arrow/pandas nodes to ``out``."""
        values = sql.executionMetrics(eid)
        nodes = sql.planGraph(eid).allNodes()
        exchanges = 0
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if node.name() == "Exchange":
                exchanges += 1
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() in _PYTHON_METRICS:
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out["python_bytes"] += _parse_metric_size(v.get())
        return exchanges
