"""Spans around the benchmark's own calls into each layer, with Spark's
stage and operator metrics for the span's job group attached.

A span runs one action (a ``noop`` write of a layer's output, or the layer's
real write) under its own job group. Afterwards the tracer reads, from
Spark's status stores:

- stage metrics of the group's jobs (run time, CPU, GC, shuffle bytes,
  spill, input bytes);
- operator (SQL) metrics of the SQL executions those jobs belong to,
  summed per ``(operator, metric)``: Python-worker time, Arrow bytes to and
  from Python, sort time, peak memory, rows.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"^(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)$")

#: stage fields summed per span (``StageData`` getters)
_STAGE_FIELDS = {
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "spill_mem_bytes": ("memoryBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
}


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric -> number in base units (B or s).
    Task-aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    text = text.split(" (", 1)[0].strip()
    m = _NUM.match(text)
    if not m:
        raise ValueError(f"unparsed SQL metric: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float
    rows: dict = field(default_factory=dict)
    stage: dict = field(default_factory=dict)
    sql: dict = field(default_factory=dict)
    executions: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def op(self, operator: str, metric: str) -> float:
        """Sum of ``metric`` over every operator whose name starts with
        ``operator`` (e.g. ``MapInPandas``, ``Sort``)."""
        return sum(v for k, v in self.sql.items()
                   if k.split("|")[0].startswith(operator) and k.split("|")[1] == metric)


class Tracer:
    """Records spans for one traced run. ``trace_id`` is shared by all of
    the run's spans."""

    def __init__(self, spark, trace_id: str):
        self.spark = spark
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._n = 0

    def span(self, name: str, action, parent: str | None = None, observe=None) -> Span:
        """Run ``action()`` under job group ``<trace_id>:<n>:<name>`` and
        record its span. ``observe`` is an optional ``pyspark.sql.Observation``
        the action's DataFrame reports row counts through."""
        sc = self.spark.sparkContext
        self._n += 1
        group = f"{self.trace_id}:{self._n}:{name}"
        sc.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            action()
        finally:
            end = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        span = Span(name=name, parent=parent, start=start, end=end)
        if observe is not None:
            span.rows = {k: int(v) for k, v in observe.get.items()}
        self._attach_metrics(span, group)
        self.spans.append(span)
        return span

    def _attach_metrics(self, span: Span, group: str) -> None:
        sc = self.spark.sparkContext
        job_ids = set(sc.statusTracker().getJobIdsForGroup(group))
        store = sc._jsc.sc().statusStore()
        stage = defaultdict(float)
        seen: set[int] = set()
        for jid in job_ids:
            for sid in _seq(store.job(jid).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                data = store.lastStageAttempt(sid)
                for key, (getter, scale) in _STAGE_FIELDS.items():
                    stage[key] += getattr(data, getter)() * scale
                # peak execution memory: the largest stage's task sum
                stage["peak_exec_mem_bytes"] = max(
                    stage["peak_exec_mem_bytes"], float(data.peakExecutionMemory()))
        span.stage = dict(stage)
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        sql = defaultdict(float)
        for ex in _seq(sql_store.executionsList()):
            ex_jobs = {int(j) for j in _seq(ex.jobs().keys().toSeq())}
            if not ex_jobs or not ex_jobs <= job_ids:
                continue
            eid = ex.executionId()
            values = sql_store.executionMetrics(eid)
            for node in _seq(sql_store.planGraph(eid).allNodes()):
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        sql[f"{node.name().strip()}|{m.name()}"] += parse_metric(v.get())
            done = ex.completionTime()
            span.executions.append({
                "id": eid,
                "seconds": ((done.get().getTime() if done.isDefined() else 0)
                            - ex.submissionTime()) / 1e3,
                "python": "MapInPandas" in ex.physicalPlanDescription(),
            })
        span.sql = dict(sql)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                rec = asdict(s)
                rec["trace_id"] = self.trace_id
                fh.write(json.dumps(rec, sort_keys=True) + "\n")
