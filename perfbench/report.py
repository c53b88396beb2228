"""Turns one run's samples and spans into the reported metrics.

End-to-end metrics come from the untraced run; per-layer metrics from the
traced one. Every metric listed in ``BENCHMARK.json`` is reported by every
workload; a per-layer metric whose layer a workload never calls reads 0.

Latencies are summarized per op class first. Ops of one class cost about the
same (one query; one graph write; a graph read at one BFS depth), while the
classes of one workload differ by up to ten times, so a median taken over all
ops would jump between classes from run to run.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from perfbench.stats import gmean, median, tail
from perfbench.tracing import Span
from perfbench.workloads import LLM_QUERIES, OLAP_QUERIES, WRITE_ACKS


@dataclass
class Sample:
    op: int
    kind: str  # graph op kind or query name
    pass_no: int
    seconds: float
    ok: bool
    info: dict = field(default_factory=dict)  # filled by the op, e.g. BFS levels
    jobs: int = 0
    stage: dict = field(default_factory=dict)
    sql: dict = field(default_factory=dict)


@dataclass
class Result:
    cpus: int
    setup: list[dict] = field(default_factory=list)  # one entry per set-up rep
    problems: dict[str, list[str]] = field(default_factory=dict)
    samples: list[Sample] = field(default_factory=list)
    pass_size: int = 0  # ops in one pass
    trace_self_s: float = 0.0  # time the tracer spent inside timed ops
    peak_rss_mb: float = 0.0
    spans: list[Span] = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def passes(self) -> float:
        """Passes run; the last one may be partial."""
        return len(self.samples) / self.pass_size if self.pass_size else 0.0

    def full_passes(self) -> int:
        return len(self.samples) // self.pass_size if self.pass_size else 0

    def failed(self) -> tuple[int, int]:
        """(attempted, failed). An op fails when it raised, returned a wrong
        answer, or ran a query whose result check failed. A check problem
        that belongs to no op kind (a wrong warm-up answer) counts as one
        more failed attempt."""
        ops = self.samples
        kinds = {s.kind for s in ops}
        extra = [k for k in self.problems if k not in kinds]
        bad = sum(1 for s in ops if not s.ok or s.kind in self.problems)
        return len(ops) + len(extra), bad + len(extra)


def op_class(s: Sample) -> str:
    """A graph read's cost is set by the BFS depth it walks; every other op
    kind is one class."""
    return f"{s.kind}.d{s.info['depth']}" if "depth" in s.info else s.kind


def class_medians(samples: list[Sample]) -> dict[str, float]:
    """Median latency of each op class. Every class occurs once per pass."""
    by_class: dict[str, list[float]] = {}
    for s in samples:
        by_class.setdefault(op_class(s), []).append(s.seconds)
    return {k: median(v) for k, v in sorted(by_class.items())}


def kind_p50(meds: dict[str, float], kind: str) -> float:
    """Geometric mean over the classes of one op kind (a kind's depths)."""
    return gmean([v for k, v in meds.items() if k.split(".")[0] == kind])


def summary(res: Result) -> dict:
    """What the info line adds about the timed ops."""
    secs = [s.seconds for s in res.samples]
    t = tail(secs)
    pass_s: dict[int, float] = {}
    for s in res.samples:
        pass_s[s.pass_no] = pass_s.get(s.pass_no, 0.0) + s.seconds
    return {
        "ops": len(secs),
        "passes": round(res.passes(), 2),
        "pass_s": [round(p, 3) for p in pass_s.values()],
        "op_p50_by_class_s": {k: round(v, 3) for k, v in class_medians(res.samples).items()},
        "op_tail_pct": round(t[0], 1) if t else None,
        "op_tail_s": t[1] if t else None,
    }


def end_to_end(res: Result) -> dict[str, tuple[float, str]]:
    meds = list(class_medians(res.samples).values())
    return {
        "setup_s": (median([r["total_s"] for r in res.setup]), "s"),
        # one pass made of the median op of every class
        "wall_s": (sum(meds), "s"),
        "op_p50_s": (gmean(meds), "s"),
    }


def _spans_by_op(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        out.setdefault(s.op, []).append(s)
    return out


def _dur(spans: list[Span], *names: str) -> float:
    return sum(s.seconds for s in spans if s.name in names)


def _jobs(spans: list[Span], *names: str) -> int:
    return sum(len(s.jobs) for s in spans if s.name in names)


def per_layer(res: Result) -> dict[str, tuple[float, str]]:
    ops = res.samples
    by_op = _spans_by_op(res.spans)
    attempted, failed = res.failed()
    m: dict[str, tuple[float, str]] = {}

    # -- ops, by kind, and memory ---------------------------------------------
    secs = [s.seconds for s in ops]
    t = tail(secs)
    meds = class_medians(ops)
    m["ops.count"] = (len(ops), "count")
    m["ops.failed_frac"] = (failed / attempted if attempted else 0.0, "ratio")
    m["ops.tail_s"] = (t[1] if t else 0.0, "s")
    m["ops.tail_pct"] = (t[0] if t else 0.0, "%")
    m["ops.bfs_p50_s"] = (kind_p50(meds, "bfs"), "s")
    m["ops.dfs_p50_s"] = (kind_p50(meds, "dfs"), "s")
    m["ops.write_p50_s"] = (gmean([meds[k] for k in WRITE_ACKS if k in meds]), "s")
    m["mem.peak_rss_mb"] = (res.peak_rss_mb, "MB")

    # -- operators.graph -----------------------------------------------------
    bfs_ops = [s for s in ops if s.kind == "bfs"]
    dfs_ops = [s for s in ops if s.kind == "dfs"]
    loop, collect, levels, jpl, epl = [], [], [], [], []
    for s in bfs_ops:
        sp = by_op.get(s.op, [])
        lv = s.info.get("levels", 0)
        loop.append(_dur(sp, "graph.bfs"))
        collect.append(s.seconds - _dur(sp, "graph.bfs", "store.load"))
        levels.append(lv)
        if lv:
            jpl.append(_jobs(sp, "graph.bfs") / lv)
            epl.append(s.sql.get("execs", 0.0) / lv)
    m["graph.bfs.loop_s"] = (median(loop), "s")
    m["graph.bfs.collect_s"] = (median(collect), "s")
    m["graph.bfs.levels"] = (median(levels), "count")
    m["graph.bfs.jobs_per_level"] = (median(jpl), "count")
    m["graph.bfs.sql_execs_per_level"] = (median(epl), "count")
    dfs_bfs = [_dur(by_op.get(s.op, []), "graph.bfs") for s in dfs_ops]
    dfs_all = [_dur(by_op.get(s.op, []), "graph.dfs") for s in dfs_ops]
    m["graph.dfs.bfs_s"] = (median(dfs_bfs), "s")
    m["graph.dfs.driver_s"] = (median([a - b for a, b in zip(dfs_all, dfs_bfs)]), "s")

    # -- operators.graph.GraphStore ------------------------------------------
    writes = [s for s in ops if s.kind in WRITE_ACKS]
    reads = bfs_ops + dfs_ops
    m["store.write_s"] = (
        median([_dur(by_op.get(s.op, []), "store.add", "store.modify") for s in writes]), "s")
    m["store.write_jobs"] = (
        median([_jobs(by_op.get(s.op, []), "store.add", "store.modify") for s in writes]), "count")
    m["store.files_written"] = (median([s.info.get("files", 0) for s in writes]), "count")
    m["store.load_s"] = (median([_dur(by_op.get(s.op, []), "store.load") for s in reads]), "s")

    # -- queries -------------------------------------------------------------
    query_ops = [s for s in ops if s.kind in OLAP_QUERIES + LLM_QUERIES]
    per_pass: dict[int, list[float]] = {}
    for s in query_ops:
        if s.pass_no >= max(res.full_passes(), 1):
            continue  # a partial pass would pull the median down
        sp = by_op.get(s.op, [])
        tot = per_pass.setdefault(s.pass_no, [0.0, 0.0, 0.0])
        tot[0] += _dur(sp, "queries.build")
        tot[1] += _dur(sp, "queries.exec")
        tot[2] += _jobs(sp, "queries.build")
    m["queries.build_s"] = (median([v[0] for v in per_pass.values()]), "s")
    m["queries.exec_s"] = (median([v[1] for v in per_pass.values()]), "s")
    m["queries.build_jobs"] = (median([v[2] for v in per_pass.values()]), "count")
    for name in LLM_QUERIES:
        mine = [by_op.get(s.op, []) for s in query_ops if s.kind == name]
        m[f"queries.{name}.build_s"] = (median([_dur(sp, "queries.build") for sp in mine]), "s")
        m[f"queries.{name}.exec_s"] = (median([_dur(sp, "queries.exec") for sp in mine]), "s")
        m[f"queries.{name}.build_jobs"] = (
            median([_jobs(sp, "queries.build") for sp in mine]), "count")

    # -- Python boundary (per pass) ------------------------------------------
    passes = res.passes() or 1.0
    py = {k: sum(s.sql.get(k, 0.0) for s in ops) / passes
          for k in ("start_ms", "init_ms", "compute_ms", "rows")}
    m["python.start_ms"] = (py["start_ms"], "ms")
    m["python.init_ms"] = (py["init_ms"], "ms")
    m["python.compute_ms"] = (py["compute_ms"], "ms")
    m["python.rows"] = (py["rows"], "count")
    busy = py["init_ms"] + py["compute_ms"]
    m["python.init_share"] = (py["init_ms"] / busy if busy else 0.0, "ratio")

    # -- Spark execution, per op ---------------------------------------------
    n = max(len(ops), 1)
    m["spark.jobs"] = (sum(s.jobs for s in ops) / n, "count")
    for key, unit in (("stages", "count"), ("tasks", "count"),
                      ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
                      ("scan_bytes", "B")):
        m[f"spark.{key}"] = (sum(s.stage.get(key, 0.0) for s in ops) / n, unit)
    wall = sum(secs)
    run_s = sum(s.stage.get("run_ms", 0.0) for s in ops) / 1000.0
    m["spark.task_busy_frac"] = (run_s / (wall * res.cpus) if wall else 0.0, "ratio")

    # -- session / sources.catalog (median over set-up reps) -----------------
    m["session.create_s"] = (median([r["create_s"] for r in res.setup]), "s")
    m["session.warm_s"] = (median([r["warm_s"] for r in res.setup]), "s")
    m["setup.input_s"] = (median([r["input_s"] for r in res.setup]), "s")
    m["catalog.load_table_s"] = (median([r.get("load_table_s", 0.0) for r in res.setup]), "s")

    # -- the tracing itself --------------------------------------------------
    m["trace.spans"] = (len(res.spans), "count")
    # tracing overhead: this minus wall_s of the untraced run, same seed
    m["trace.wall_s"] = (sum(meds.values()), "s")
    m["trace.self_s"] = (res.trace_self_s / passes, "s")
    return m


def result_line(res: Result, trace: bool) -> dict:
    metrics = per_layer(res) if trace else end_to_end(res)
    attempted, failed = res.failed()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
