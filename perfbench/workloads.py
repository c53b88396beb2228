"""The benchmark's workloads: ``graph_ops``, ``olap`` and ``llm_pipeline``.

A workload hands ``run.py`` four things: ``prepare`` makes the seeded inputs
(benchmark-side, never timed), ``setup`` does the program-side set-up on a
fresh session (timed as ``setup_s``), ``check`` verifies outputs outside the
timed ops, and ``ops`` lists one pass of timed operations. Each op is a
``(kind, thunk, info)`` triple: the thunk runs the operation and returns
whether its answer was right; ``info`` holds counts the traced run reports
(BFS loop rounds, files a write left).
"""

from __future__ import annotations

import os
import random
import time
from collections.abc import Callable

from perfbench import datagen, reference

Op = tuple[str, Callable[[], bool], dict]

# bench.HEADLINE minus the llm-tagged queries, plus one prefix-sum and one
# quantile caller. part_brand_margin_quartiles (~10 s) is left out.
OLAP_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "agg_cube",
    "window_rank",
    "topk_per_group",
    "join_asof",
    "sessionize",
    "join_range_bucketed",
    "q7_nation_volume",
    "window_range_frame",
    "stream_tumbling_counts",
    "graph_degrees_custsupp",
    "orders_abc_pareto",
    "agg_group_quantiles_scalable",
)
LLM_QUERIES = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_fingerprint",
    "text_quality",
    "sim_topk_bruteforce",
)


# the reference's ack texts (primaryServer.c:59-60)
WRITE_ACKS = {"add": "File successfully added", "modify": "File successfully modified"}


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _direct(name: str, fn, *args):
    return fn(*args)


class GraphOps:
    """The reference's four operations through ``api.Engine``."""

    name = "graph_ops"

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work

    def prepare(self) -> None:
        self.initial = datagen.initial_graph(self.seed)

    def setup(self, spark, rep: int) -> dict[str, float]:
        """A fresh store holding the initial graph, then one DFS on it to
        warm the traversal path."""
        from distributed_graph_database_system_spark.api import Engine

        self.spark = spark
        g = self.initial
        t0 = time.perf_counter()
        self.engine = Engine(spark, os.path.join(self.work, f"graphs{rep}"))
        self.engine.add_graph("g0", g.n, g.matrix)
        t1 = time.perf_counter()
        self.names = ["g0"]
        # a DFS runs the BFS level loop, its collect and the driver walk
        self.warm_ok = self.engine.dfs_text("g0", g.start) == reference.dfs_text(g.matrix, g.start)
        return {"input_s": t1 - t0, "warm_s": time.perf_counter() - t1}

    def check(self, spark) -> dict[str, list[str]]:
        # every op is checked as it runs; here only the set-up's warm-up read
        return {} if self.warm_ok else {"setup": ["warm-up DFS answer wrong"]}

    def ops(self, pass_no: int) -> list[Op]:
        return [self._op(op) for op in datagen.graph_ops_pass(self.seed, pass_no, self.names)]

    def _op(self, op: datagen.Op) -> Op:
        engine, g, info = self.engine, op.graph, {}
        if op.kind in ("add", "modify"):
            write = engine.add_graph if op.kind == "add" else engine.modify_graph
            ack = WRITE_ACKS[op.kind]
            path = engine.store.path(op.name)

            def run() -> bool:
                ok = write(op.name, g.n, g.matrix) == ack
                info["files"] = sum(f.endswith(".parquet") for f in os.listdir(path))
                return ok

            return op.kind, run, info
        read = engine.bfs_text if op.kind == "bfs" else engine.dfs_text
        want = (reference.bfs_text if op.kind == "bfs" else reference.dfs_text)(g.matrix, g.start)
        # rounds of the BFS level loop: one per level below the start, plus
        # the round that finds the frontier empty
        levels = reference.bfs_levels(reference.adjacency(reference.matrix_edges(g.matrix)), g.start)
        info["depth"] = levels[-1][1]
        info["levels"] = info["depth"] + 1

        def run() -> bool:
            return read(op.name, g.start) == want

        return op.kind, run, info


class QueryMix:
    """Registered queries at sf0.1: each op builds one query and
    materializes it to the ``noop`` sink. The seed fixes the data and the
    query order of every pass."""

    queries: tuple[str, ...] = ()

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work
        # the directory name tells run_parity which scale factor it holds
        self.sf_dir = os.path.join(work, "sf0.1")
        # how an op calls into the program; the traced run opens a span here
        self.call = _direct

    def prepare(self) -> None:
        from distributed_graph_database_system_spark.queries.registry import all_queries

        datagen.write_tables(self.seed, self.sf_dir)
        self.registry = all_queries()

    def setup(self, spark, rep: int) -> dict[str, float]:
        """Open every input table (parquet footers, schema inference), then
        warm the JVM's query path and the Python worker pool."""
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from distributed_graph_database_system_spark.sources import catalog

        self.spark = spark
        t0 = time.perf_counter()
        for table in catalog.TABLES:
            catalog.load_table(spark, self.sf_dir, table)
        t1 = time.perf_counter()

        @pandas_udf("long")
        def _ident(s):
            return s

        n = spark.sparkContext.defaultParallelism
        materialize(spark.range(n).repartition(n).select(_ident(F.col("id"))))
        materialize(self.registry["q1_pricing_summary"].fn(spark, self.sf_dir).limit(1))
        return {"input_s": t1 - t0, "load_table_s": t1 - t0, "warm_s": time.perf_counter() - t1}

    def check(self, spark) -> dict[str, list[str]]:
        """Each query's result once: oracle-backed queries against DuckDB
        through ``tests/parity.py`` (``compare``), the rest by their own
        check below."""
        from tests.parity import run_parity

        problems = run_parity(
            spark, self.sf_dir, names=list(self.queries), workers=spark.sparkContext.defaultParallelism
        )
        for name in self.queries:
            if name not in problems:
                problems[name] = self._check_unbacked(spark, name)
        return {k: v for k, v in problems.items() if v}

    def _check_unbacked(self, spark, name: str) -> list[str]:
        if name != "dedup_minhash_lsh":
            return [f"no check for {name}"]
        import pyarrow.parquet as pq

        docs = pq.read_table(os.path.join(self.sf_dir, "documents.parquet"))
        texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        rows = self.registry[name].fn(spark, self.sf_dir).collect()
        pairs = [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows]
        return reference.check_near_dup_pairs(pairs, texts, reference.planted_pairs(texts))

    def ops(self, pass_no: int) -> list[Op]:
        order = list(self.queries)
        random.Random(self.seed * 1_000_003 + pass_no).shuffle(order)
        return [(name, self._op(name), {}) for name in order]

    def _op(self, name: str) -> Callable[[], bool]:
        spec, spark, sf_dir, call = self.registry[name], self.spark, self.sf_dir, self.call

        def run() -> bool:
            df = call("queries.build", spec.fn, spark, sf_dir)
            call("queries.exec", materialize, df)
            return True

        return run


class Olap(QueryMix):
    """Scan, join, exchange, window and AQE work with almost no Python UDF
    time, plus the driver-side probe passes of the prefix-sum and quantile
    operators."""

    name = "olap"
    queries = OLAP_QUERIES


class LlmPipeline(QueryMix):
    """Dedup, text statistics and similarity search, where the Arrow/Python
    UDF boundary and CPU hashing dominate."""

    name = "llm_pipeline"
    queries = LLM_QUERIES


WORKLOADS = {w.name: w for w in (GraphOps, Olap, LlmPipeline)}
