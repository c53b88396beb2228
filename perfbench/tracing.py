"""Span recording and Spark-side counters for the traced run.

Spans are recorded from outside the program: ``Tracer.install`` wraps the
public functions of each layer (``GraphStore.add``/``modify``/``load``,
``graph.bfs``, ``graph.dfs_leaves``, ``catalog.load_table``) in this process,
and the workloads open spans around the calls they make themselves (one
query's build and materialize). Each span records name, start, end, parent
and op id. Every span runs under its own Spark job group, so the jobs a span
started are read back from ``statusTracker`` by group after the op; stage
counters come from the application status store and SQL metrics (Python
worker time, executions) from the SQL status store. Both stores are filled
by Spark's listener bus even with the UI disabled.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import SparkSession


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``dump`` writes them out as JSON lines."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.op = -1
        self.self_s = 0.0  # time spent in begin/end, i.e. inside the timed op
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    def begin(self, name: str) -> Span:
        t0 = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, self.op, parent, 0.0)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        span.start = time.perf_counter()
        self.self_s += span.start - t0
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self._set_group(self._stack[-1])
        else:
            self.spark.sparkContext._jsc.clearJobGroup()
        self.self_s += time.perf_counter() - span.end

    def _set_group(self, span: Span) -> None:
        self.spark.sparkContext.setJobGroup(_group(span), span.name)

    def call(self, name: str, fn, *args, **kwargs):
        span = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(span)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    # -- installing wrappers around the program's public calls ---------------
    def install(self) -> None:
        from distributed_graph_database_system_spark.operators import graph as G
        from distributed_graph_database_system_spark.sources import catalog

        for owner, attr, name in (
            (G.GraphStore, "add", "store.add"),
            (G.GraphStore, "modify", "store.modify"),
            (G.GraphStore, "load", "store.load"),
            (G, "bfs", "graph.bfs"),
            (G, "dfs_leaves", "graph.dfs"),
        ):
            self._patch(owner, attr, self.wrap(name, getattr(owner, attr)))
        # query modules import load_table by name: rebind it in each of them
        original = catalog.load_table
        traced = self.wrap("catalog.load_table", original)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(
                "distributed_graph_database_system_spark"
            ) and getattr(mod, "load_table", None) is original:
                self._patch(mod, "load_table", traced)

    def _patch(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, value in reversed(self._patched):
            setattr(owner, attr, value)
        self._patched.clear()

    # -- reading back Spark's view of one op ---------------------------------
    def collect_jobs(self, spans: list[Span]) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        for span in spans:
            span.jobs = sorted(tracker.getJobIdsForGroup(_group(span)))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for span in self.spans:
                fh.write(json.dumps(asdict(span)) + "\n")


def _group(span: Span) -> str:
    return f"perfbench-op{span.op}-span{span.id}"


def drain_listener_bus(spark: SparkSession) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status stores hold the final counters of the jobs just run."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_counters(spark: SparkSession, job_ids: list[int]) -> dict[str, float]:
    """Stages, tasks, busy time and bytes of the stages these jobs ran.
    Stages a job skipped (shuffle output reused) never ran and are not
    counted."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        ("stages", "tasks", "run_ms", "shuffle_write_bytes", "spill_bytes", "scan_bytes"),
        0.0,
    )
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — py4j: NoSuchElementException for a skipped stage
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["run_ms"] += sd.executorRunTime()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["scan_bytes"] += sd.inputBytes()
    return out


# SQL metric names of the Python evaluation nodes (ArrowEvalPython,
# MapInPandas, ...) and the per-layer names they are reported under.
PYTHON_METRICS = {
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "compute_ms",
}
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def sql_execution_count(spark: SparkSession) -> int:
    return int(spark._jsparkSession.sharedState().statusStore().executionsCount())


def sql_counters(spark: SparkSession, first: int, last: int) -> dict[str, float]:
    """Python worker time and rows over SQL executions ``[first, last)`` of
    the status store's list (execution order). Positions stay valid while
    the store holds every execution of the run: a run makes a few hundred,
    under the ``spark.sql.ui.retainedExecutions`` default of 1000."""
    out = {"execs": float(last - first), "start_ms": 0.0, "init_ms": 0.0,
           "compute_ms": 0.0, "rows": 0.0}
    if last <= first:
        return out
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList(first, last - first)
    for i in range(execs.size()):
        ex = execs.apply(i)
        values = None
        graph = store.planGraph(ex.executionId())
        nodes = graph.allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            metrics = node.metrics()
            names = {metrics.apply(m).name(): metrics.apply(m) for m in range(metrics.size())}
            if not any(n in PYTHON_METRICS for n in names):
                continue
            if values is None:
                values = store.executionMetrics(ex.executionId())
            for name, metric in names.items():
                raw = values.get(metric.accumulatorId())
                if raw.isEmpty():
                    continue
                if name in PYTHON_METRICS:
                    out[PYTHON_METRICS[name]] += parse_ms(raw.get())
                elif name == "number of output rows":
                    out["rows"] += parse_count(raw.get())
    return out


def _total(text: str) -> str:
    # "total (min, med, max (stageId: taskId))\n2.6 s (...)" -> "2.6 s"
    line = text.strip().splitlines()[-1]
    return line.split("(")[0].strip()


def parse_ms(text: str) -> float:
    m = re.match(r"([0-9.,]+)\s*(ms|s|m|h)\b", _total(text))
    return float(m.group(1).replace(",", "")) * _UNIT_MS[m.group(2)] if m else 0.0


def parse_count(text: str) -> float:
    m = re.match(r"[0-9,]+", _total(text))
    return float(m.group(0).replace(",", "")) if m else 0.0
