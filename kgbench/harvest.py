"""Outside-in per-layer metrics: job groups, the status tracker and the SQL
status store.

Nothing here reaches into the program.  A layer runs under its own job group;
afterwards the harvester reads

* job, stage, task and failed-task counts from ``SparkContext.statusTracker()``;
* per-plan-node SQL metrics from the SQL status store
  (``spark._jsparkSession.sharedState().statusStore()``), linking each SQL
  execution to the group through the job ids in ``executionsList()[i].jobs()``.

SQL metric values arrive as display strings (``"80,000"``, ``"5.5 MiB"``,
``"total (min, med, max (stageId: taskId))\\n14.6 s (1.2 s, ...)"``);
:func:`parse_metric` turns them back into numbers in base units (rows, bytes,
seconds).
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
         "PiB": 1 << 50, "EiB": 1 << 60}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float | None:
    """A SQL metric's display string -> number (rows, bytes or seconds).

    Aggregated metrics carry a header line and a ``total (min, med, max)``
    tail; the total is the first value of the last line.  Average metrics
    show only ``(min, med, max ...)`` and have no total: None."""
    line = text.strip().splitlines()[-1]
    if line.startswith("("):
        return None
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparseable SQL metric {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")


@dataclass
class Span:
    name: str
    trace_id: str
    parent: str | None
    start: float
    end: float = 0.0


@dataclass
class LayerStats:
    """What one job group did, read back from Spark's own bookkeeping."""

    seconds: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    # summed over every plan node with that (node name, metric name)
    node_metrics: dict[tuple[str, str], float] = field(default_factory=dict)

    def metric(self, node_prefix: str, name: str) -> float:
        """Sum of metric ``name`` over nodes whose name starts with
        ``node_prefix`` (0 when no such node ran)."""
        return sum(v for (n, m), v in self.node_metrics.items()
                   if n.startswith(node_prefix) and m == name)


def _seq(jseq) -> list:
    """A Scala Seq/Iterable -> Python list, through py4j."""
    it = jseq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class Harvester:
    def __init__(self, spark, trace_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[str] = []

    def _drain_listeners(self) -> None:
        # status stores are fed asynchronously by the listener bus; wait until
        # every event of the finished actions has been applied
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    @contextmanager
    def span(self, name: str):
        """Record a span around the block; spans opened inside it name it as
        their parent."""
        s = Span(name, self.trace_id, self._stack[-1] if self._stack else None,
                 time.perf_counter())
        self._stack.append(name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def layer(self, name: str, fn):
        """Run ``fn()`` under job group ``name`` and a span of the same name;
        return (fn's result, LayerStats)."""
        self.sc.setJobGroup(name, name)
        try:
            with self.span(name) as s:
                result = fn()
        finally:
            self.sc._jsc.clearJobGroup()
        self._drain_listeners()
        return result, self.stats(name, s.end - s.start)

    def stats(self, group: str, seconds: float) -> LayerStats:
        tracker = self.sc.statusTracker()
        job_ids = set(tracker.getJobIdsForGroup(group))
        st = LayerStats(seconds=seconds, jobs=len(job_ids))
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is None:
                    continue  # skipped stage (shuffle output reused)
                st.stages += 1
                st.tasks += stage.numTasks
                st.failed_tasks += stage.numFailedTasks
        store = self.spark._jsparkSession.sharedState().statusStore()
        sums: dict[tuple[str, str], float] = defaultdict(float)
        for ex in _seq(store.executionsList()):
            ex_jobs = {int(k) for k in _seq(ex.jobs().keys())}
            if not ex_jobs & job_ids:
                continue
            values = store.executionMetrics(ex.executionId())
            for node in _seq(store.planGraph(ex.executionId()).allNodes()):
                for m in _seq(node.metrics()):
                    raw = values.get(m.accumulatorId())
                    value = parse_metric(raw.get()) if raw.isDefined() else None
                    if value is not None:
                        sums[(node.name(), m.name())] += value
        st.node_metrics = dict(sums)
        return st
