"""Spans and counters recorded from outside the program.

A span wraps one call into one of the program's layers. Each span runs
its Spark jobs under a job group of its own, so the jobs, stages, tasks,
shuffle bytes and executor time it caused are read back from the status
store afterwards; the Spark UI does not need to be enabled. Spans are kept
in memory and summed into the per-layer metrics when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_JOB_GROUP = "spark.jobGroup.id"
_PYTHON_NODE = re.compile(r"Python|Arrow|Pandas")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


class Span:
    __slots__ = ("name", "start", "end", "group", "jobs")

    def __init__(self, name: str, group: str) -> None:
        self.name = name
        self.group = group
        self.start = time.perf_counter()
        self.end = self.start
        self.jobs: list[int] = []  # its own and every child span's

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and counters for one run. ``mode`` says whether the
    run traces at all; ``enabled`` switches recording per operation. While
    it is off, spans and counters are no-ops, so workloads call them
    unconditionally."""

    def __init__(self, spark, mode: bool) -> None:
        self.mode = mode
        self.enabled = False
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._listener: _StreamProgress | None = None

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"perfbench-{os.getpid()}-{next(self._ids)}")
        outer = sc.getLocalProperty(_JOB_GROUP)
        sc.setLocalProperty(_JOB_GROUP, s.group)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(_JOB_GROUP, outer)
            s.jobs.extend(sc.statusTracker().getJobIdsForGroup(s.group))
            if parent is not None:
                parent.jobs.extend(s.jobs)
            self.spans.append(s)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a version that runs inside a span.
        Callers that bound the name before this call keep the original."""
        if not self.mode:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.counts[key] += value

    # -- what the status stores know ------------------------------------------

    def job_stats(self, job_ids) -> dict[str, float]:
        """Stages, tasks, shuffle and spill bytes and executor run time of
        the given jobs, from the application status store."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        out = dict.fromkeys(
            ("stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "executor_run_ms"), 0.0)
        seen: set[int] = set()
        for j in job_ids:
            info = sc.statusTracker().getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage skipped or evicted
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["executor_run_ms"] += sd.executorRunTime()
        return out

    def catalyst_phases(self, df) -> dict[str, float]:
        """Analysis, optimization and planning milliseconds of ``df``'s
        query execution, forcing its physical plan."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        out = {}
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = float(kv._2().durationMs())
        return out

    def last_execution_id(self) -> int:
        execs = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def python_metrics(self, after_execution_id: int) -> dict[str, float]:
        """Python-boundary SQL metrics summed over the plan nodes of every
        SQL execution newer than ``after_execution_id``."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        out = dict.fromkeys(
            ("eval_nodes", "rows_to_worker", "rows_from_worker",
             "bytes_to_worker", "bytes_from_worker"), 0.0)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= after_execution_id:
                continue
            values = store.executionMetrics(eid)
            graph = store.planGraph(eid)
            nodes = {}
            it = graph.allNodes().iterator()
            while it.hasNext():
                n = it.next()
                nodes[n.id()] = n

            def metric(node, name, values=values):
                it = node.metrics().iterator()
                while it.hasNext():
                    m = it.next()
                    if m.name() == name:
                        v = values.get(m.accumulatorId())
                        return parse_metric(v.get()) if v.isDefined() else 0.0
                return 0.0

            children = defaultdict(list)
            it = graph.edges().iterator()
            while it.hasNext():
                e = it.next()
                children[e.toId()].append(e.fromId())
            for nid, node in nodes.items():
                if not _PYTHON_NODE.search(node.name()):
                    continue
                out["eval_nodes"] += 1
                out["rows_from_worker"] += metric(node, "number of output rows")
                out["bytes_to_worker"] += metric(node, "data sent to Python workers")
                out["bytes_from_worker"] += metric(
                    node, "data returned from Python workers")
                for cid in children.get(nid, ()):
                    out["rows_to_worker"] += metric(nodes[cid], "number of output rows")
        return out

    # -- streaming -------------------------------------------------------------

    def listen_streams(self) -> None:
        if self.mode and self._listener is None:
            self._listener = _StreamProgress(self)
            self.spark.streams.addListener(self._listener)

    def stop_listening(self) -> None:
        if self._listener is not None:
            try:
                self.spark.streams.removeListener(self._listener)
            except Exception:  # noqa: BLE001 - session already stopped
                pass
            self._listener = None

    # -- summaries -------------------------------------------------------------

    def total(self, name: str) -> tuple[int, float, int]:
        """Calls, seconds and jobs (children included) of spans ``name``."""
        spans = [s for s in self.spans if s.name == name]
        return (len(spans), sum(s.seconds for s in spans),
                sum(len(s.jobs) for s in spans))


class _StreamProgress(StreamingQueryListener):
    """Sums each micro-batch's trigger phase durations."""

    def __init__(self, tracer: Tracer) -> None:
        self._tracer = tracer

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self._tracer.add("streaming.batches", 1)
        for phase in STREAM_PHASES:
            self._tracer.add(f"streaming.{phase}_ms", float(p.durationMs.get(phase, 0)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def parse_metric(text: str) -> float:
    """Total of one SQL metric as Spark formats it: ``'6,000'``,
    ``'47.0 KiB'``, ``'1.8 s'`` or ``'total (min, med, max …)\\n2.7 s (…)'``."""
    text = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    return {"ms": value / 1000.0, "s": value, "m": value * 60, "h": value * 3600}.get(
        unit, value)
