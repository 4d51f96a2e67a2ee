"""Spans around calls into the program, and Spark's own counters per span.

A :class:`Tracer` always times its spans (the end-to-end metrics are sums
of span durations). Only when ``enabled`` does it also give each span its
own Spark job group, so that after the run :class:`SparkCounters` can
attribute jobs, stages, tasks and SQL metrics to it. Spans stay in memory
and are written out at the end of the run.

The counters come from Spark's public surfaces, read from the driver:

- ``SparkContext.statusTracker()`` for a job group's jobs and their stages;
- the application status store (``SparkContext.statusStore``) for per-stage
  task time, GC time, shuffle, spill and output bytes;
- the SQL status store (``sharedState().statusStore()``) for the final
  (post-AQE) plan graph of each SQL execution and its operator metrics.

Both stores fill from the listener bus, so it is drained
(:func:`drain_listener_bus`) before they are read. This works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import itertools
import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    kind: str
    span_id: str
    parent: str | None
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``enabled`` each span also sets a job group."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.spark = None
        self._stack: list[Span] = []
        self._ids = itertools.count()
        # Anchor that maps perf_counter readings to wall-clock time, so
        # spans built from StreamingQueryProgress timestamps share a clock.
        self._wall0, self._pc0 = time.time(), time.perf_counter()

    def pc_from_wall(self, wall: float) -> float:
        return self._pc0 + (wall - self._wall0)

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, kind, f"s{next(self._ids)}", parent.span_id if parent else None,
                 time.perf_counter(), attrs=attrs)
        if self.enabled and self.spark is not None:
            s.group = f"perfbench-{s.span_id}"
            self.spark.sparkContext.setJobGroup(s.group, name)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if s.group is not None:
                self._set_group(parent.group if parent else None, parent.name if parent else None)

    def add(self, name: str, kind: str, start: float, end: float, parent: Span | None, **attrs) -> Span:
        """Record a span measured by someone else (a progress phase)."""
        s = Span(name, kind, f"s{next(self._ids)}", parent.span_id if parent else None,
                 start, end, attrs=attrs)
        self.spans.append(s)
        return s

    def _set_group(self, group: str | None, description: str | None) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setLocalProperty("spark.job.description", description)

    def of_kind(self, kind: str) -> list[Span]:
        return [s for s in self.spans if s.kind == kind]

    def export(self) -> list[dict]:
        """Spans as JSON records, with self time (duration minus the part
        of its interval covered by child spans)."""
        children: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.parent:
                children.setdefault(s.parent, []).append(s)
        out = []
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.span_id, [])]
            )
            out.append(
                {
                    "id": s.span_id,
                    "parent": s.parent,
                    "name": s.name,
                    "kind": s.kind,
                    "start_unix": round(self._wall0 + (s.start - self._pc0), 6),
                    "duration_s": round(s.duration, 6),
                    "self_s": round(s.duration - covered, 6),
                    "group": s.group,
                    **s.attrs,
                }
            )
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class ProgressListener(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` (``recentProgress`` keeps only
    the last ``spark.sql.streaming.numRecentProgressUpdates``)."""

    def __init__(self):
        self.run_ids: list[str] = []
        self.progress: list[dict] = []
        self.terminated = 0

    def onQueryStarted(self, event):
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1


def drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


# ---------------------------------------------------------------------------
# Counters per job group
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NODE = re.compile(r'\[id="node\d+" labelType="html" label="(.*?)" tooltip=')
_TOTAL = " total (min, med, max"


def parse_metric(text: str) -> float:
    """A rendered SQL metric value ("1,234", "3.1 MiB", "7.8 s (1.8 s, ...)")
    as a number in base units (count, bytes or seconds)."""
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


def parse_plan_graph(dot: str) -> list[tuple[str, dict[str, float]]]:
    """(node name, {metric: value}) for each node of a SQL plan graph in
    its DOT rendering. Reading the graph as one string costs one call into
    the JVM instead of several per node and metric."""
    nodes = []
    for label in _NODE.findall(dot):
        lines = label.split("<br>")
        name = next(x for x in lines if x.startswith("<b>"))[3:-4]
        metrics: dict[str, float] = {}
        pending = None
        for line in lines[lines.index(f"<b>{name}</b>") + 1:]:
            if pending is not None:
                metrics[pending], pending = parse_metric(line), None
            elif _TOTAL in line:
                pending = line.split(_TOTAL)[0]
            elif ": " in line:
                key, _, value = line.rpartition(": ")
                metrics[key] = parse_metric(value)
        nodes.append((name, metrics))
    return nodes


@dataclass
class GroupCounters:
    """What Spark ran for one or more job groups."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    #: SQL plan-graph nodes of the executions these jobs belong to
    nodes: list[tuple[str, dict[str, float]]] = field(default_factory=list)

    def count_nodes(self, name: str) -> int:
        return sum(1 for n, _ in self.nodes if n == name)


class SparkCounters:
    """Reads the status tracker and both status stores of one session."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._job_to_exec: dict[int, int] | None = None

    def _exec_index(self) -> dict[int, int]:
        if self._job_to_exec is None:
            self._job_to_exec = {}
            for e in self._conv.asJava(self._sql.executionsList()):
                for j in self._conv.asJava(e.jobs()).keySet():
                    self._job_to_exec[int(j)] = int(e.executionId())
        return self._job_to_exec

    def jobs(self, groups: list[str]) -> list[int]:
        return sorted({j for g in groups for j in self._tracker.getJobIdsForGroup(g)})

    def collect(self, groups: list[str]) -> GroupCounters:
        out = GroupCounters()
        job_ids = self.jobs(groups)
        out.jobs = len(job_ids)
        stage_ids: set[int] = set()
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                d = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no record
                continue
            if d.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += int(d.numCompleteTasks())
            out.task_s += d.executorRunTime() / 1000.0
            out.gc_s += d.jvmGcTime() / 1000.0
            out.shuffle_write_bytes += int(d.shuffleWriteBytes())
            out.shuffle_read_bytes += int(d.shuffleReadBytes())
            out.spill_bytes += int(d.memoryBytesSpilled()) + int(d.diskBytesSpilled())
            out.output_bytes += int(d.outputBytes())
        index = self._exec_index()
        for eid in sorted({index[j] for j in job_ids if j in index}):
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            out.nodes.extend(parse_plan_graph(dot))
        return out


def is_file_scan(metrics: dict) -> bool:
    return "number of files read" in metrics


def is_python_eval(metrics: dict) -> bool:
    return "time to run Python workers" in metrics
