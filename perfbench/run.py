"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload graph_ops --seed 1 --seconds 10 --trace 0

Run from the repository root. One client thread drives the workload in a
closed loop against a local Spark session with one core per CPU this process
may use. The run sets up ``SETUP_REPS`` times on a fresh session (the median
is ``setup_s``), checks the program's outputs, then runs timed passes of the
workload until ``--seconds`` have passed: at least one whole pass, then op
by op, so the timed window ends within one op of ``--seconds``. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, the end-to-end metrics with ``--trace 0`` and the
per-layer metrics with ``--trace 1``. The traced run also writes its spans
to ``.perfbench_work/spans-<workload>-s<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import hashlib
import itertools
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "distributed_graph_database_system_spark"
SETUP_REPS = 3


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def source_digest() -> str:
    """Identifies the program measured: the git commit when there is one,
    else a digest of the package's source files."""
    head = ROOT / ".git" / "HEAD"
    if head.is_file():
        ref = head.read_text().strip()
        if ref.startswith("ref: ") and (ROOT / ".git" / ref[5:]).is_file():
            return (ROOT / ".git" / ref[5:]).read_text().strip()
    h = hashlib.sha1()
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(path.relative_to(ROOT).as_posix().encode())
        h.update(path.read_bytes())
    return "src-" + h.hexdigest()[:12]


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the Spark JVM."""

    def hwm_kb(pid: int | str) -> int:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
        return 0

    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm_kb("self") + hwm_kb(jvm)) / 1024.0


def stop_jvm() -> None:
    """Shut the Spark JVM down and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    # the gateway JVM exits when its stdin pipe closes
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def pin_environment(work: Path, cpus: int) -> None:
    """Everything the numbers depend on that the program reads from the
    environment, set before the Spark JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # Python workers import the package by name
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, str(ROOT))


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file() or not (ROOT / "tests" / "parity.py").is_file():
        print(f"perfbench: {PACKAGE}/ or tests/parity.py not found under {ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    pin_environment(work, cpus)

    from perfbench import report, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload](args.seed, str(work))
    try:
        result = run(wl, args, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    line = report.result_line(result, trace=bool(args.trace))
    for name, problems in result.problems.items():
        print(f"perfbench: check failed: {name}: {problems[:3]}", file=sys.stderr)
    print(json.dumps({"info": {**result.info, **report.summary(result)}}))
    print(json.dumps(line))
    return 0


def run(wl, args, cpus: int):
    from perfbench import report, tracing
    from distributed_graph_database_system_spark.session import get_spark

    t_start = time.perf_counter()
    wl.prepare()
    t_prepared = time.perf_counter()
    conf = {
        # C1 only: with C2 the JVM kept recompiling Spark's planner for
        # minutes, so every timed pass ran faster than the one before and
        # where a run's window fell on that slope set its numbers
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:TieredStopAtLevel=1",
        "spark.ui.showConsoleProgress": "false",
    }
    res = report.Result(cpus=cpus)
    spark = None
    try:
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench", extra_conf=conf)
            t1 = time.perf_counter()
            parts = wl.setup(spark, rep)
            res.setup.append({"total_s": time.perf_counter() - t0, "create_s": t1 - t0, **parts})
        t_setup = time.perf_counter()
        res.problems = wl.check(spark)
        t_checked = time.perf_counter()
        tracer = None
        if args.trace:
            tracer = tracing.Tracer(spark)
            tracer.install()
            wl.call = tracer.call
        run_timed(wl, time.perf_counter() + args.seconds, res, tracer)
        res.peak_rss_mb = peak_rss_mb(spark)
        if tracer is not None:
            tracer.uninstall()
            res.spans, res.trace_self_s = tracer.spans, tracer.self_s
            tracer.dump(str(Path(wl.work).parent / f"spans-{wl.name}-s{args.seed}.jsonl"))
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
    res.info.update(
        workload=wl.name,
        cpus=cpus,
        seed=args.seed,
        commit=source_digest(),
        seconds=args.seconds,
        prepare_s=round(t_prepared - t_start, 3),
        check_s=round(t_checked - t_setup, 3),
        timed_s=round(time.perf_counter() - t_checked, 3),
        setup_reps_s=[round(r["total_s"], 3) for r in res.setup],
    )
    return res


def run_timed(wl, deadline: float, res, tracer) -> None:
    """Run passes of ops until ``deadline``, one sample per op: the first
    pass whole, later ones up to the first op that would start late."""
    for pass_no in itertools.count():
        ops = wl.ops(pass_no)
        res.pass_size = res.pass_size or len(ops)
        for kind, thunk, info in ops:
            if pass_no and time.perf_counter() >= deadline:
                return
            run_op(wl.spark, pass_no, kind, thunk, info, res, tracer)


def run_op(spark, pass_no: int, kind: str, thunk, info: dict, res, tracer) -> None:
    """Time one op and record its sample; the traced run also reads the
    op's jobs, stages and SQL executions back from Spark."""
    from perfbench import report, tracing

    op_id = len(res.samples)
    if tracer is not None:
        tracer.op = op_id
        root = tracer.begin(f"op.{kind}")
        first_exec = tracing.sql_execution_count(spark)
    t0 = time.perf_counter()
    try:
        ok = thunk()
    except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
        traceback.print_exc(file=sys.stderr)
        ok = False
    seconds = time.perf_counter() - t0
    sample = report.Sample(op_id, kind, pass_no, seconds, ok, info)
    if tracer is not None:
        tracer.end(root)
        tracing.drain_listener_bus(spark)
        spans = [s for s in tracer.spans if s.op == op_id]
        tracer.collect_jobs(spans)
        jobs = sorted({j for s in spans for j in s.jobs})
        sample.jobs = len(jobs)
        sample.stage = tracing.stage_counters(spark, jobs)
        sample.sql = tracing.sql_counters(
            spark, first_exec, tracing.sql_execution_count(spark)
        )
    res.samples.append(sample)


if __name__ == "__main__":
    raise SystemExit(main())
