"""Outside-in spans plus Spark's own job, stage and SQL-operator metrics.

A span times one call from the benchmark into a layer's public function.
With tracing off a span is two clock reads, so the end-to-end run and
the traced run share one code path. With tracing on, a span also notes
the Spark job ids submitted while it was open (job ids are sequential
and the benchmark is a single closed-loop client, so this attribution is
exact), and ``harvest`` reads those jobs' stages and SQL executions from
the status stores after the timed region ends. Both stores work with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"([\d][\d,]*(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> tuple[float, float]:
    """(total, max per task) from a SQL metric's display string, in
    seconds / bytes / counts. Multi-task metrics read
    'total (min, med, max (stageId: taskId))\\n<total> (<min>, <med>, <max> (...))'."""
    line = text.split("\n")[-1]
    vals = [
        float(n.replace(",", "")) * _UNITS.get(u, 1.0)
        for n, u in _VALUE.findall(line)
    ]
    if not vals:
        return 0.0, 0.0
    return vals[0], (vals[3] if len(vals) > 3 else vals[0])


@dataclass
class Span:
    name: str
    parent: "Span | None"
    t0: float  # epoch seconds (comparable with Spark's job timestamps)
    p0: float  # perf_counter
    job0: int = -1
    t1: float = 0.0
    p1: float = 0.0
    job1: int = -1
    attrs: dict = field(default_factory=dict)
    children: list = field(default_factory=list)
    jobs: list = field(default_factory=list)  # all jobs, children's included

    @property
    def wall(self) -> float:
        return self.p1 - self.p0

    @property
    def self_time(self) -> float:
        return self.wall - sum(c.wall for c in self.children)


@dataclass
class JobInfo:
    submit: float
    complete: float
    stages: list
    executions: set = field(default_factory=set)


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []  # every span, in start order
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0
        self.jobs: dict[int, JobInfo] = {}
        self.stages: dict[int, dict] = {}
        self.executions: dict[int, dict] = {}

    def _next_job(self) -> int:
        t = time.perf_counter()
        n = self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        self.overhead_s += time.perf_counter() - t
        return int(n)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, time.time(), time.perf_counter(), attrs=attrs)
        if self.enabled:
            s.job0 = self._next_job()
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            if self.enabled:
                s.job1 = self._next_job()
            s.t1, s.p1 = time.time(), time.perf_counter()
            self.spans.append(s)
            (parent.children if parent else self.roots).append(s)

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    # --- reading Spark's status stores -----------------------------------
    def harvest(self) -> None:
        """Fetch job, stage and SQL-execution data for every traced job."""
        if not self.enabled or not self.spans:
            return
        jvm = self.spark._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))

        def js(obj):
            return json.loads(mapper.writeValueAsString(obj))

        store = self.spark.sparkContext._jsc.sc().statusStore()
        for s in self.spans:
            s.jobs = list(range(s.job0, s.job1))
        for job_id in sorted({j for s in self.spans for j in s.jobs}):
            try:
                j = js(store.job(job_id))
            except Exception:  # evicted from the store or never registered
                continue
            self.jobs[job_id] = JobInfo(
                (j.get("submissionTime") or 0) / 1e3,
                (j.get("completionTime") or 0) / 1e3,
                j.get("stageIds") or [],
            )
        for job in self.jobs.values():
            for sid in job.stages:
                if sid in self.stages:
                    continue
                try:
                    st = js(store.lastStageAttempt(sid))
                except Exception:  # a skipped stage has no attempt data
                    continue
                self.stages[sid] = st if st.get("status") != "SKIPPED" else {}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for e in js(sql.executionsList()):
            ids = {int(k) for k in (e.get("jobs") or {})}
            ids &= self.jobs.keys()
            if not ids:
                continue
            eid = e["executionId"]
            values = js(sql.executionMetrics(eid))
            graph = js(sql.planGraph(eid))
            self.executions[eid] = {"jobs": ids, "nodes": _plan_nodes(graph, values)}
            for j in ids:
                self.jobs[j].executions.add(eid)

    # --- aggregations over a set of spans ---------------------------------
    def job_ids(self, spans: list[Span]) -> set[int]:
        return {j for s in spans for j in s.jobs if j in self.jobs}

    def stage_sum(self, spans: list[Span], key: str) -> float:
        sids = {sid for j in self.job_ids(spans) for sid in self.jobs[j].stages}
        return float(sum(self.stages.get(sid, {}).get(key) or 0 for sid in sids))

    def tasks(self, spans: list[Span]) -> int:
        sids = {sid for j in self.job_ids(spans) for sid in self.jobs[j].stages}
        return sum(self.stages.get(sid, {}).get("numTasks") or 0 for sid in sids)

    def execution_ids(self, spans: list[Span]) -> set[int]:
        return {e for j in self.job_ids(spans) for e in self.jobs[j].executions}

    def nodes(self, spans: list[Span]) -> list[dict]:
        return [n for e in sorted(self.execution_ids(spans)) for n in self.executions[e]["nodes"]]

    def node_metric(self, spans: list[Span], metric: str, pred=lambda n: True) -> float:
        return sum(n["metrics"].get(metric, (0.0, 0.0))[0] for n in self.nodes(spans) if pred(n))

    def node_metric_max(self, spans: list[Span], metric: str) -> float:
        return max((n["metrics"].get(metric, (0.0, 0.0))[1] for n in self.nodes(spans)), default=0.0)

    def driver_only(self, span: Span) -> float:
        """Span wall not covered by any of its jobs' submit→complete."""
        ivs = sorted(
            (max(self.jobs[j].submit, span.t0), min(self.jobs[j].complete, span.t1))
            for j in span.jobs
            if j in self.jobs
        )
        covered, end = 0.0, span.t0
        for lo, hi in ivs:
            lo = max(lo, end)
            if hi > lo:
                covered += hi - lo
                end = hi
        return max(span.wall - covered, 0.0)

    def jobs_union_s(self, job_ids: set[int]) -> float:
        ivs = sorted((self.jobs[j].submit, self.jobs[j].complete) for j in job_ids)
        total, end = 0.0, float("-inf")
        for lo, hi in ivs:
            lo = max(lo, end)
            if hi > lo:
                total += hi - lo
                end = hi
        return total


def _plan_nodes(graph: dict, values: dict) -> list[dict]:
    """Flatten a SparkPlanGraph: each node with its metric values, and
    whether an Exchange sits between it and the plan root."""
    flat: dict[int, dict] = {}

    def walk(nodes):
        for n in nodes:
            if n.get("nodes"):  # a WholeStageCodegen cluster
                walk(n["nodes"])
            flat[n["id"]] = {
                "name": n.get("name", ""),
                "desc": n.get("desc", ""),
                "metrics": {
                    m["name"]: parse_metric(values.get(str(m["accumulatorId"]), ""))
                    for m in n.get("metrics") or []
                },
            }

    walk(graph.get("nodes") or [])
    parent = {e["fromId"]: e["toId"] for e in graph.get("edges") or []}
    for nid, node in flat.items():
        below_exchange, cur, seen = False, parent.get(nid), set()
        while cur is not None and cur not in seen:
            seen.add(cur)
            if flat.get(cur, {}).get("name", "").startswith("Exchange"):
                below_exchange = True
                break
            cur = parent.get(cur)
        node["below_exchange"] = below_exchange
    return list(flat.values())
