"""Outside-in span recorder.

A span times one call into a public engine function.  While it is open,
its id is the Spark job group, so every job the call starts is tagged
with it.  When the run ends, ``collect`` reads Spark's own status store
(jobs, stages and SQL executions; it is filled even with the UI off) and
turns each span into counts:

- ``task_s``: summed executor run time of the span's stages
- ``driver_s``: span time during which none of its jobs ran (planning,
  Py4J, the driver loop)
- shuffle write/read bytes, spill bytes, input and output bytes
- per SQL execution: start, end and the metrics of the Python operator
  (``MapInPandas``), when the span asks for them

Spans stay in memory until then; ``collect`` is outside every span.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import time
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``1,234``, ``40.0 MiB``, ``12 ms``
    or the ``total (min, med, max ...)\\n<total> (...)`` form."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


@dataclass
class Span:
    id: str
    name: str
    parent: "Span | None"
    start: float = 0.0
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    children: list = field(default_factory=list)
    python_metrics: bool = False
    phase: object = None  # "setup" or the index of the timed pass
    # filled by collect()
    jobs: list = field(default_factory=list)      # (start, end) epoch s
    stages: dict = field(default_factory=dict)
    executions: list = field(default_factory=list)  # (id, start, end)
    python: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; otherwise ``span`` is a no-op.
    ``phase`` tags new spans with the part of the run they belong to."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.phase: object = "setup"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str, python_metrics: bool = False):
        if not self.enabled:
            yield Span("", name, None)
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"kgbench-{next(self._ids)}", name, parent,
                  python_metrics=python_metrics, phase=self.phase)
        if parent:
            parent.children.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobGroup(sp.id, name, False)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent.id, parent.name, False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    # -- status store ------------------------------------------------------

    def collect(self) -> None:
        if not self.spans:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        by_id = {s.id: s for s in self.spans}
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        job_span: dict[int, Span] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            grp = j.jobGroup()
            if not grp.isDefined() or grp.get() not in by_id:
                continue
            sp = by_id[grp.get()]
            job_span[j.jobId()] = sp
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                sp.jobs.append((sub.get().getTime() / 1e3,
                                done.get().getTime() / 1e3))
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage skipped or evicted: no metrics
                    continue
                sp.stages[sid] = (
                    st.executorRunTime() / 1e3, st.shuffleWriteBytes(),
                    st.shuffleReadBytes(),
                    st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    st.inputBytes(), st.outputBytes())
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            jmap = e.jobs()
            jids = jmap.keys().toList()
            owner = None
            for k in range(jids.size()):
                owner = job_span.get(jids.apply(k))
                if owner is not None:
                    break
            done = e.completionTime()
            if owner is None or not done.isDefined():
                continue
            owner.executions.append((e.executionId(),
                                     e.submissionTime() / 1e3,
                                     done.get().getTime() / 1e3))
            if owner.python_metrics:
                self._python_metrics(sql, e.executionId(), owner)

    @staticmethod
    def _python_metrics(sql, eid: int, sp: Span) -> None:
        graph = sql.planGraph(eid)
        values = sql.executionMetrics(eid)
        nodes = graph.allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if node.name() not in ("MapInPandas", "MapInArrow"):
                continue
            ms = node.metrics()
            for m in range(ms.size()):
                metric = ms.apply(m)
                v = values.get(metric.accumulatorId())
                if v.isDefined():
                    key = metric.name()
                    sp.python[key] = (sp.python.get(key, 0.0)
                                      + parse_metric(v.get()))


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _subtree(sp: Span):
    yield sp
    for c in sp.children:
        yield from _subtree(c)


def span_record(sp: Span) -> dict:
    """The per-span figures; job and stage counts include child spans."""
    jobs, stages = [], {}
    for s in _subtree(sp):
        jobs += s.jobs
        stages.update(s.stages)
    st = list(stages.values())
    busy = _union_length(jobs, sp.start, sp.end)
    child = sum(c.wall for c in sp.children)
    rec = {
        "name": sp.name,
        "parent": sp.parent.name if sp.parent else None,
        "start": sp.start,
        "wall_s": sp.wall,
        "self_s": sp.wall - child,
        "task_s": sum(x[0] for x in st),
        "driver_s": max(0.0, sp.wall - busy),
        "jobs": len(jobs),
        "shuffle_write_bytes": sum(x[1] for x in st),
        "shuffle_read_bytes": sum(x[2] for x in st),
        "spill_bytes": sum(x[3] for x in st),
        "bytes_read": sum(x[4] for x in st),
        "bytes_output": sum(x[5] for x in st),
    }
    if sp.python_metrics:
        rec["py_bytes_sent"] = sp.python.get("data sent to Python workers", 0.0)
        rec["py_bytes_returned"] = sp.python.get(
            "data returned from Python workers", 0.0)
        rec["py_run_task_s"] = sp.python.get("time to run Python workers", 0.0)
    ex = sorted(sp.executions)
    if ex:
        rec["executions"] = [(s, e) for _, s, e in ex]
    rec.update(sp.counts)
    return rec
