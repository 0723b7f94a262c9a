"""In-memory spans around the benchmark's calls into each layer.

A span records name, start, end, parent and run id. While a span is
open its work runs in its own Spark job group, so the jobs, stages and
tasks it launched are read back from the public
``sparkContext.statusTracker()`` when it closes. Spans stay in memory
and are written out, with each layer's self time, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0
    counts: dict[str, int] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran, tasks and failed tasks of job ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    ran = tasks = failed = 0
    for sid in stages:
        info = tracker.getStageInfo(sid)
        if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
            continue  # skipped: its output was reused from an earlier stage
        ran += 1
        tasks += info.numCompletedTasks
        failed += info.numFailedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks, "failed_tasks": failed}


def _items(seq):
    """Iterate a Scala ``Seq`` or ``Iterable`` reached through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def next_sql_execution(spark) -> int:
    """The id the next SQL execution of this session's JVM will get, at
    most: one past the highest id in the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    return 1 + max((e.executionId() for e in _items(store.executionsList())), default=-1)


def python_udf_rows(spark, first: int) -> int:
    """Rows that came out of Python UDF nodes (``ArrowEvalPython``,
    ``BatchEvalPython``) in the SQL executions from id ``first`` on: per
    execution the most any such node emitted, summed over executions, so
    a recomputed UDF counts again and a cached one does not. Read from
    the SQL status store once the listener bus has drained."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for execution in _items(store.executionsList()):
        eid = execution.executionId()
        if eid < first:
            continue
        values = store.executionMetrics(eid)
        rows = [0]
        for node in _items(store.planGraph(eid).allNodes()):
            if not node.name().endswith("EvalPython"):
                continue
            for metric in _items(node.metrics()):
                value = values.get(metric.accumulatorId())
                if metric.name() == "number of output rows" and value.isDefined():
                    rows.append(int(value.get().replace(",", "")))
        total += max(rows)
    return total


class Tracer:
    """Collects spans for one run. ``sc`` is the SparkContext whose jobs
    are attributed; pass ``None`` to record timings only."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        group = f"{self.run_id}:{idx}:{name}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        self._open.append(idx)
        sp = Span(name, time.perf_counter(), parent, self.run_id)
        self.spans.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()
            if self.sc is not None:
                sp.counts = job_counts(self.sc, group)
                # jobs after this point belong to the enclosing span
                if self._open:
                    outer = self._open[-1]
                    self.sc.setJobGroup(f"{self.run_id}:{outer}:{self.spans[outer].name}", self.spans[outer].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus what child spans cover."""
        covered: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                covered[sp.parent] += sp.duration
        out: dict[str, float] = defaultdict(float)
        for i, sp in enumerate(self.spans):
            out[sp.name] += sp.duration - covered[i]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [asdict(sp) for sp in self.spans],
                    "self_s": self.self_times(),
                },
                f,
                indent=1,
            )
            f.write("\n")
