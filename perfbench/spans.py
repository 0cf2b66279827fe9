"""Spans recorded from the harness, and readers of Spark's status store.

A span is a timed call into one layer.  Each span sets its own Spark job
group, so every job, stage and SQL execution the call triggers is
attributed to exactly one span; the parent's group is restored on exit.
Spans stay in memory; the harness writes them out when the run ends.

Stage and task metrics come from ``SparkContext.statusStore()`` and SQL
node metrics from ``sharedState().statusStore()``; both are populated
with the web UI off.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    """Records spans and attributes Spark jobs to them by job group."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "group": f"span-{len(self.spans)}", **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setLocalProperty(GROUP_KEY, rec["group"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty(GROUP_KEY, parent["group"] if parent else None)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def descendants(self, span_id: int) -> set[str]:
        """Job groups of a span and every span below it."""
        out = {self.spans[span_id]["group"]}
        for s in self.spans[span_id + 1:]:
            if s["parent"] is not None and self.spans[s["parent"]]["group"] in out:
                out.add(s["group"])
        return out


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


class StatusStore:
    """Snapshot of finished jobs, stages and SQL executions."""

    def __init__(self, spark):
        jvm = spark._jvm
        sc = spark.sparkContext._jsc.sc()
        store = sc.statusStore()
        self.jobs = {}
        for j in _seq(store.jobsList(None)):
            self.jobs[j.jobId()] = {
                "group": _opt(j.jobGroup()),
                "stages": [int(x) for x in _seq(j.stageIds())],
            }
        empty = jvm.java.util.ArrayList()
        self.stages = {}
        quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        for st in _seq(store.stageList(empty, False, False, quantiles, empty)):
            self.stages[(st.stageId(), st.attemptId())] = {
                "id": st.stageId(), "attempt": st.attemptId(),
                "tasks": st.numCompleteTasks(),
                "run_ms": st.executorRunTime(), "cpu_ns": st.executorCpuTime(),
                "gc_ms": st.jvmGcTime(),
                "in_records": st.inputRecords(), "in_bytes": st.inputBytes(),
                "out_records": st.outputRecords(), "out_bytes": st.outputBytes(),
                "shuffle_read": st.shuffleRemoteBytesRead()
                + st.shuffleLocalBytesRead(),
                "shuffle_write": st.shuffleWriteBytes(),
                "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            }
        self._store = store
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def jobs_in(self, groups: set[str]) -> list[int]:
        return sorted(j for j, d in self.jobs.items() if d["group"] in groups)

    def stages_of(self, jobs: list[int]) -> list[dict]:
        ids = {s for j in jobs for s in self.jobs[j]["stages"]}
        return [d for (sid, _), d in self.stages.items() if sid in ids]

    def task_records(self, stage: dict, field: str) -> list[int]:
        """Per-task input records (``field='in'``) or output records
        (``'out'``) of one stage attempt."""
        tasks = self._store.taskList(stage["id"], stage["attempt"],
                                     max(1, stage["tasks"]))
        out = []
        for t in _seq(tasks):
            m = _opt(t.taskMetrics())
            if m is None:
                continue
            out.append(m.inputMetrics().recordsRead() if field == "in"
                       else m.outputMetrics().recordsWritten())
        return out

    def executions(self, jobs: list[int]) -> list[dict]:
        """SQL executions whose jobs are all in ``jobs``, with each plan
        node's name, description and metric values."""
        wanted = set(jobs)
        out = []
        for e in _seq(self._sql.executionsList()):
            ejobs = [int(k) for k in _seq(e.jobs().keys().toSeq())]
            if not ejobs or not set(ejobs) <= wanted:
                continue
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            nodes = []
            for n in _seq(self._sql.planGraph(eid).allNodes()):
                metrics = {}
                for m in _seq(n.metrics()):
                    v = _opt(values.get(m.accumulatorId()))
                    if v is not None:
                        metrics[m.name()] = _metric_value(v)
                nodes.append({"name": n.name(), "desc": n.desc(),
                              "metrics": metrics})
            out.append({"id": eid, "jobs": ejobs, "nodes": nodes})
        return out


def _metric_value(text: str) -> float | None:
    """Total of a rendered SQL metric: the leading number of strings such
    as ``"1,234"``, ``"12.3 MiB"`` or ``"total (min, med, max)\\n5.0 s (...)"``
    in base units (bytes, seconds)."""
    line = text.strip().split("\n")[-1] if "\n" in text else text.strip()
    m = re.match(r"([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]*)", line)
    if not m:
        return None
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    scale = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
             "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
             "us": 1e-6}
    return v * scale.get(unit, 1)
