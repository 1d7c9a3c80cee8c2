"""Spans around library calls, and readers for Spark's own metrics.

Tracing is a benchmark-side concern: the benchmark wraps each public
library call it makes in a span (name, start, end, parent, request id).
Spans live in memory and are written as JSON when the run ends.  With
tracing off, ``Tracer.span`` records nothing and touches no Spark state.

A span opened with ``spark=True`` also sets a Spark job group for its
duration.  When it closes, the Spark metrics of exactly those jobs are
read from outside the library:

- jobs, tasks, task run time, shuffle bytes and job intervals from the
  core status store (``SparkContext.statusStore``, which the
  ``statusTracker`` API reads too; it works with the UI off);
- per-plan-node output rows from the SQL status store
  (``sharedState().statusStore()``: ``executionsList``, ``planGraph``,
  ``executionMetrics``).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


def _iter(seq):
    """Iterate a Scala collection handed over py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt(o):
    return o.get() if o.isDefined() else None


def _rows(value: str) -> int | None:
    """Parse a SQL 'number of output rows' metric string ('1,234')."""
    try:
        return int(value.replace(",", "").strip())
    except (AttributeError, ValueError):
        return None


class SparkReader:
    """Reads the Spark metrics of one job group (see module doc)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql_seen = 0  # SQL executions already consumed

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def read_group(self, group: str) -> dict:
        self.drain()
        store = self._jsc.statusStore()
        job_ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        out = {"jobs": len(job_ids), "tasks": 0, "task_run_ms": 0,
               "shuffle_bytes": 0, "job_intervals": [], "executions": []}
        for jid in job_ids:
            job = store.job(jid)
            sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
            if sub is not None and done is not None:
                out["job_intervals"].append((sub.getTime(), done.getTime()))
            for sid in _iter(job.stageIds()):
                try:
                    stage = store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage never attempted (skipped)
                    continue
                if str(stage.status()) == "SKIPPED":
                    continue
                out["tasks"] += stage.numCompleteTasks()
                out["task_run_ms"] += stage.executorRunTime()
                out["shuffle_bytes"] += stage.shuffleWriteBytes()
        out["executions"] = self._executions(set(job_ids))
        return out

    def _executions(self, job_ids: set) -> list[dict]:
        """SQL executions (in id order) that ran any of ``job_ids``, each
        with its plan nodes' names and output rows."""
        if not job_ids:
            return []
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = sql.executionsCount()
        execs = []
        if total <= self._sql_seen:
            return execs
        for ex in _iter(sql.executionsList(self._sql_seen, total - self._sql_seen)):
            ran = {int(j) for j in _iter(ex.jobs().keySet())}
            if not ran & job_ids:
                continue
            eid = ex.executionId()
            values = sql.executionMetrics(eid)
            nodes = []
            for node in _iter(sql.planGraph(eid).allNodes()):
                rows = None
                for m in _iter(node.metrics()):
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        rows = _rows(_opt(v)) if v is not None else None
                nodes.append({"name": node.name(), "rows": rows})
            execs.append({"id": eid, "nodes": nodes})
        self._sql_seen = total
        return execs


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes every span a
    no-op (the untraced, end-to-end mode)."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.reader = SparkReader(spark) if enabled and spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, request: str | None = None, spark: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
            "start": time.perf_counter(), "end": None,
            "epoch_ms": time.time() * 1000.0, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"pb-{rec['id']}" if spark and self.reader else None
        if group:
            self.reader.sc.setJobGroup(group, name, False)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                self.reader.sc.setLocalProperty("spark.jobGroup.id", None)
                self.reader.sc.setLocalProperty("spark.job.description", None)
                rec["spark"] = self.reader.read_group(group)

    # ---- derived quantities ----

    @staticmethod
    def wall_ms(rec: dict) -> float:
        return (rec["end"] - rec["start"]) * 1000.0

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_ms(self, rec: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        return self.wall_ms(rec) - covered_ms(
            [(c["start"] * 1000.0, c["end"] * 1000.0) for c in self.children(rec)]
        )

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def dump(self, path: str, extra: dict | None = None) -> None:
        out = []
        for s in self.spans:
            rec = {k: v for k, v in s.items() if k not in ("start", "end")}
            rec["start_ms"] = s["start"] * 1000.0
            rec["end_ms"] = s["end"] * 1000.0 if s["end"] is not None else None
            rec["self_ms"] = self.self_ms(s) if s["end"] is not None else None
            out.append(rec)
        with open(path, "w") as f:
            json.dump({"spans": out, **(extra or {})}, f)


def covered_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
