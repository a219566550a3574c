"""Spans around the benchmark's calls into the engine, and the Spark
jobs booked to them.

A span records name, start, end, parent span and request id. With
Spark attached, entering a span sets the Spark job group
``r<request>/<span id>``, so every job, stage and task the call starts
is booked to that span; ``SparkLedger`` reads them back from Spark's
in-process status store when the run ends. Everything stays in memory
until ``Tracer.dump``. A disabled tracer records nothing and sets no
job group.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    req: int
    parent: int | None
    start: float
    end: float = 0.0
    spark: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"r{self.req}/{self.id}"


class Tracer:
    def __init__(self, enabled: bool, spark_context=None):
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, req: int):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, req, parent.id if parent else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the time its children cover."""
        child = {sp.id: 0.0 for sp in self.spans}
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        return {sp.id: (sp.end - sp.start) - child[sp.id] for sp in self.spans}

    def by_layer(self, prefix: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name.startswith(prefix)]

    def dump(self, path) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


class SparkLedger:
    """Reads the jobs of a job group from Spark's live status store."""

    def __init__(self, spark_context):
        self.sc = spark_context
        self.store = spark_context._jsc.sc().statusStore()
        gw = spark_context._gateway
        self._q = gw.new_array(gw.jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0

    def group_totals(self, group: str) -> dict:
        out = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "skews": []}
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # evicted or never submitted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["run_ms"] += st.executorRunTime()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
                if st.numTasks() >= 2:
                    summ = self.store.taskSummary(sid, st.attemptId(), self._q)
                    if summ.isDefined():
                        q = summ.get().executorRunTime()
                        med, mx = q.apply(0), q.apply(1)
                        if med > 0:
                            out["skews"].append(mx / med)
        return out

    def book(self, tracer: Tracer) -> None:
        """Attach the Spark totals of each span's own job group."""
        for sp in tracer.spans:
            sp.spark = self.group_totals(sp.group)


def jvm_gc_s(spark_context) -> float:
    """Total collection time of every JVM garbage collector, seconds."""
    beans = spark_context._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
