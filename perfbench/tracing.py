"""Spans around the benchmark's calls into each layer, attributed to
Spark work through job groups.

Every span sets a Spark job group of its own, so each job the layer
call starts carries the span's id. After an op ends, and outside its
timing, :meth:`SparkTracer.attribute` reads Spark's status store for
those jobs and their stages. Spans stay in memory and are written once,
when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class NullTracer:
    """Tracing off: spans cost one generator frame and touch no Spark."""

    @contextmanager
    def span(self, name: str):
        yield


def _union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


class SparkTracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: int | None = None

    def begin_op(self, op: int | None) -> None:
        self._op = op

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "op": self._op,
            "parent": parent["id"] if parent else None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"perfbench-{sp['id']}"
        self.sc.setJobGroup(group, name)
        sp["start"] = time.time()
        try:
            yield
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # -- attribution (untimed) ------------------------------------------------

    def _drain(self) -> None:
        """Wait until the status store has seen every finished job."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def attribute(self, spans: list[dict]) -> None:
        """Fill jobs, tasks, executor CPU/run time, shuffle bytes and
        non-job time into each span of ``spans``."""
        self._drain()
        by_group = {f"perfbench-{sp['id']}": sp for sp in spans}
        for sp in spans:
            sp.update(jobs=0, tasks=0, exec_cpu_s=0.0, exec_run_s=0.0,
                      shuffle_bytes=0, _intervals=[])
        store = self._jsc.statusStore()
        jobs = store.jobsList(None)
        seen_stages: set[int] = set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if not j.jobGroup().isDefined():
                continue
            sp = by_group.get(j.jobGroup().get())
            if sp is None:
                continue
            sp["jobs"] += 1
            sub = j.submissionTime()
            comp = j.completionTime()
            if sub.isDefined() and comp.isDefined():
                sp["_intervals"].append(
                    (sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0)
                )
            stage_ids = j.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                sp["tasks"] += st.numCompleteTasks()
                sp["exec_cpu_s"] += st.executorCpuTime() / 1e9
                sp["exec_run_s"] += st.executorRunTime() / 1e3
                sp["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        for sp in spans:
            intervals = sp.pop("_intervals")
            dur = sp["end"] - sp["start"]
            sp["nonjob_s"] = max(0.0, dur - _union_within(intervals, sp["start"], sp["end"]))

    def op_spans(self, op: int) -> list[dict]:
        return [sp for sp in self.spans if sp["op"] == op]

    def storage_bytes(self) -> int:
        """Block-manager memory in use across executors."""
        ex = self._jsc.statusStore().executorList(True)
        return sum(ex.apply(i).memoryUsed() for i in range(ex.size()))

    def gc_seconds(self) -> float:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)
