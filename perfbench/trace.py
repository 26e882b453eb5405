"""Spans kept in memory, self-time arithmetic, and Spark's status stores.

A span is one interval on the benchmark's side of a layer boundary:
name, layer, start, end, parent, and the Spark job group that tags the
jobs started while it is the innermost open span. Nothing here edits or
wraps package code; the benchmark opens spans around its own calls.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    job: int  # index of the benchmark job (closed-loop request) it belongs to
    start: float
    end: float = 0.0
    spark_jobs: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Duration minus the part of the span's interval its children cover."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return span.duration - union_length(clipped)


class Tracer:
    """Opens spans; with a Spark context, tags each span's Spark jobs
    with a job group so they can be read back from the status store."""

    enabled = True

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.job = -1

    @contextmanager
    def span(self, name: str, layer: str):
        sp = self._open(name, layer)
        try:
            yield sp
        finally:
            self._close(sp)

    def group_of(self, span: Span) -> str:
        return f"perfbench-{span.sid}"

    def _open(self, name: str, layer: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, layer, parent, self.job, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(self.group_of(sp), name)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        popped = self._stack.pop()
        assert popped is sp, "spans must close in LIFO order"
        if self.sc is not None:
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(self.group_of(top), top.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "sid": s.sid,
                            "name": s.name,
                            "layer": s.layer,
                            "parent": s.parent,
                            "job": s.job,
                            "start": s.start,
                            "end": s.end,
                            "self_s": self_time(s, self.children(s)),
                            "spark_jobs": s.spark_jobs,
                        }
                    )
                    + "\n"
                )


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float | None:
    """Value of a formatted SQL metric: '7,394', '16.2 MiB', '49 ms', or
    the multi-task form 'total (min, med, max ...)\\n16.2 MiB (...)'."""
    line = text.strip().split("\n")[-1]
    m = _NUM.match(line)
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value if unit == "" else None


class SparkStatus:
    """Reads jobs, stages, tasks and SQL metrics from the in-process
    status stores (they work with the UI off). Objects come back as
    JSON through Spark's own Jackson, one py4j call each."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        jvm = sc._jvm
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm, "com.fasterxml.jackson.module.scala.DefaultScalaModule$")
        mapper.registerModule(getattr(scala, "MODULE$"))
        self.mapper = mapper
        self._sql_seen = 0

    def to_json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job(self, job_id: int) -> dict:
        return self.to_json(self.store.job(job_id))

    def stage(self, stage_id: int) -> dict:
        return self.to_json(self.store.lastStageAttempt(stage_id))

    def tasks(self, stage_id: int, attempt: int, limit: int = 100_000) -> list[dict]:
        return self.to_json(self.store.taskList(stage_id, attempt, limit))

    def new_sql_executions(self) -> list[dict]:
        """SQL executions since the previous call: id, jobs, and metric
        values summed by metric name."""
        count = self.sql.executionsCount()
        if count <= self._sql_seen:
            return []
        batch = self.sql.executionsList(self._sql_seen, count - self._sql_seen)
        self._sql_seen = count
        out = []
        for i in range(batch.size()):
            ex = batch.apply(i)
            eid = ex.executionId()
            names = {
                str(m["accumulatorId"]): m["name"]
                for m in self.to_json(ex.metrics())
            }
            values = self.to_json(self.sql.executionMetrics(eid))
            by_name: dict[str, float] = {}
            for acc, text in values.items():
                v = parse_sql_metric(text)
                if v is not None and acc in names:
                    by_name[names[acc]] = by_name.get(names[acc], 0.0) + v
            jobs = [int(j) for j in self.to_json(ex.jobs()).keys()]
            out.append({"id": eid, "jobs": jobs, "metrics": by_name})
        return out
