"""Spans around calls into the package, and Spark's own counters for
the jobs each span launched.

A span records (name, start, end, parent, run id) in memory. Each span
runs its Spark jobs under its own job group; after the operation the
tracer reads, for every span, the status store's job, stage and task
data and the SQL status store's plan-node metrics. Reading happens
after the operation's wall time is taken, so it adds no Spark job and
no time inside a span.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

_PYTHON_NODES = ("MapInPandas", "MapInArrow", "PythonMapInArrow",
                 "FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython")
_UNITS = {"": 1.0, "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20,
          "GiB": 2.0 ** 30, "TiB": 2.0 ** 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^([\d.,]+)\s*([A-Za-z]*)")
_PLAN_METRIC = re.compile(r"^SQLPlanMetric\((.*),(\d+),(\w+)\)$")


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric ('20,000', '2.5 MiB', a
    'total (min, med, max)' header over a value line) as a number in
    rows, bytes or seconds."""
    line = text.split("\n")[-1].strip()
    m = _VALUE.match(line)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seen_accumulators: set[int] = set()
        self._executions_read = 0

    @contextmanager
    def span(self, name: str, run: int):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": run,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"perfbench-span-{sid}", "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name, False)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer["group"], outer["name"], False)
            else:
                self.sc._jsc.clearJobGroup()

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its (sequential) children cover."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - sum(k["end"] - k["start"] for k in kids)

    # ---------------------------------------------------- Spark counters

    def resolve(self, recs: list[dict]) -> None:
        """Attach Spark counters to each span in `recs`. A plan-node
        accumulator seen again, e.g. a cached stage read by a later
        span, stays with the span whose execution first ran it."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        span_of_job = {}
        for rec in recs:
            rec["job_ids"] = sorted(self.sc.statusTracker().getJobIdsForGroup(rec["group"]))
            for j in rec["job_ids"]:
                span_of_job[j] = rec
            rec.update(self._stage_counters(store, rec["job_ids"]))
            rec.update(python_sent_bytes=0.0, python_recv_bytes=0.0,
                       python_s=0.0, python_rows_in=0.0)
        owned = []
        count = sql.executionsCount()
        it = sql.executionsList(self._executions_read, count - self._executions_read).iterator()
        self._executions_read = count
        while it.hasNext():
            e = it.next()
            jobs = [int(x) for x in e.jobs().keys().mkString(",").split(",") if x]
            owner = next((span_of_job[j] for j in jobs if j in span_of_job), None)
            if owner is not None:
                owned.append((e.executionId(), owner))
        # in execution order, so that a cached plan node counts for the
        # span whose execution computed it, not for a parent span that
        # opened earlier and read the cache later
        for eid, owner in sorted(owned, key=lambda x: x[0]):
            self._plan_counters(sql, eid, owner)

    def _stage_counters(self, store, job_ids: list[int]) -> dict:
        jvm = self.sc._jvm
        quant = self.sc._gateway.new_array(jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        out = {"task_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
               "bytes_written": 0, "task_skew": 1.0}
        seen, heaviest = set(), -1
        for j in job_ids:
            stage_ids = store.job(j).stageIds().mkString(",")
            for sid in (int(x) for x in stage_ids.split(",") if x):
                attempts = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                           False, self.sc._gateway.new_array(jvm.double, 0))
                it = attempts.iterator()
                while it.hasNext():
                    st = it.next()
                    key = (sid, st.attemptId())
                    if key in seen or st.status().toString() == "SKIPPED":
                        continue
                    seen.add(key)
                    run_ms = st.executorRunTime()
                    out["task_s"] += run_ms / 1000.0
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    out["bytes_written"] += st.outputBytes()
                    if run_ms > heaviest:
                        summary = store.taskSummary(sid, st.attemptId(), quant)
                        if summary.isDefined():
                            med, mx = (float(x) for x in
                                       summary.get().executorRunTime().mkString(",").split(","))
                            heaviest = run_ms
                            out["task_skew"] = mx / med if med > 0 else 1.0
        return out

    def _plan_counters(self, sql, eid: int, rec: dict) -> None:
        graph = sql.planGraph(eid)
        values = {}
        for entry in sql.executionMetrics(eid).mkString("\u0001").split("\u0001"):
            acc, _, text = entry.partition(" -> ")
            if acc.strip().isdigit():
                values[int(acc)] = text
        nodes = {}
        it = graph.allNodes().iterator()
        while it.hasNext():
            n = it.next()
            metrics = {}
            for m in n.metrics().mkString("\u0001").split("\u0001"):
                pm = _PLAN_METRIC.match(m)
                if pm:
                    metrics[pm.group(1)] = int(pm.group(2))
            nodes[n.id()] = (n.name(), metrics)
        child_of = {}
        for edge in graph.edges().mkString("\u0001").split("\u0001"):
            m = re.match(r"SparkPlanGraphEdge\((\d+),(\d+)\)", edge)
            if m:
                child_of.setdefault(int(m.group(2)), []).append(int(m.group(1)))

        def take(acc: int | None) -> float:
            if acc is None or acc in self._seen_accumulators or acc not in values:
                return 0.0
            self._seen_accumulators.add(acc)
            return parse_metric(values[acc])

        for nid, (name, metrics) in nodes.items():
            if name not in _PYTHON_NODES:
                continue
            rec["python_sent_bytes"] += take(metrics.get("data sent to Python workers"))
            rec["python_recv_bytes"] += take(metrics.get("data returned from Python workers"))
            rec["python_s"] += take(metrics.get("time to run Python workers"))
            for child in child_of.get(nid, []):
                # a Project carries no row count: read the first node below it that does
                while "number of output rows" not in nodes[child][1] and len(child_of.get(child, [])) == 1:
                    child = child_of[child][0]
                rec["python_rows_in"] += take(nodes[child][1].get("number of output rows"))

    def dump(self, path: str, extra: dict) -> None:
        """Write the spans (one JSON object a line) after a header line."""
        with open(path, "w") as f:
            f.write(json.dumps(extra) + "\n")
            for rec in self.spans:
                row = {k: v for k, v in rec.items() if k != "group"}
                row["self_s"] = self.self_time(rec)
                f.write(json.dumps(row, default=str) + "\n")
