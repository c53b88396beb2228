"""Tests of the benchmark's own pieces (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import random
import re
from pathlib import Path

import pytest

from perfbench import datagen, reference, report, stats
from perfbench.tracing import Span, parse_count, parse_ms

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
BENCHMARK = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


# -- inputs -----------------------------------------------------------------


def test_graph_stream_is_deterministic_per_seed():
    def stream(seed):
        names = ["g0"]
        return [datagen.graph_ops_pass(seed, p, names) for p in range(4)]

    assert stream(7) == stream(7)
    assert stream(7) != stream(8)
    assert datagen.initial_graph(7) == datagen.initial_graph(7)


def test_tables_are_deterministic_per_seed():
    a, b, c = datagen.tables(5), datagen.tables(5), datagen.tables(6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in datagen.ROWS} == datagen.ROWS
    texts = a["documents"]["text"].to_pylist()
    assert sum(t.endswith(" dup") for t in texts) == datagen.NEAR_DUPS
    assert len(texts) - len(set(texts)) == datagen.EXACT_DUPS


@pytest.mark.parametrize("depth", datagen.DEPTHS)
def test_layered_graph_has_exact_depth_and_cap(depth):
    for seed in range(20):
        g = datagen.layered_graph(random.Random(seed), depth)
        assert g.n <= datagen.MAX_VERTICES
        adj = reference.adjacency(reference.matrix_edges(g.matrix))
        levels = reference.bfs_levels(adj, g.start)
        assert levels[-1][1] == depth
        assert len(levels) < g.n  # some vertices stay unreachable


def test_each_read_follows_the_write_of_its_graph():
    names = ["g0"]
    for p in range(6):
        ops = datagen.graph_ops_pass(1, p, names)
        written = {op.name: op.graph for op in ops if op.kind in ("add", "modify")}
        kinds = [op.kind for op in ops]
        assert kinds.count("add") + kinds.count("modify") == 2 and len(ops) == 6
        for op in ops[2:]:
            assert op.graph == written[op.name]


# -- reference answers --------------------------------------------------------


def test_reference_reproduces_the_bfs_and_dfs_goldens():
    from distributed_graph_database_system_spark.queries import graph as qg
    from distributed_graph_database_system_spark.queries import merged

    cases = {"g1": (qg.G1, 1), "g2": (qg.G2, 1), "g3": (qg.G3, 1), "g4": (qg.G4, 4), "g5": ([], 1)}
    for g, golden in merged._BFS_GOLDENS.items():
        edges, start = cases[g]
        assert reference.bfs_levels(reference.adjacency(edges), start) == golden
    for g, golden in merged._DFS_GOLDENS.items():
        edges, start = cases[g]
        assert reference.dfs_leaves(reference.adjacency(edges), start) == set(golden)


def test_reference_text_matches_the_engine_wire_format():
    # G2 of FIXTURES.md §B as a matrix: BFS 1|2 3|4|5|6, DFS leaves {3, 6}
    edges = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (5, 6), (6, 4)]
    matrix = [[int((i, j) in edges) for j in range(1, 7)] for i in range(1, 7)]
    assert reference.bfs_text(matrix, 1) == "1 2 3 4 5 6"
    assert reference.dfs_text(matrix, 1) == "3 6"
    assert reference.dfs_text([[0]], 1) == ""


def test_near_dup_check_catches_wrong_and_missing_pairs():
    texts = {
        0: "a b c d e f g h i j",
        1: "a b c d e f g h i j dup",
        2: "a b c d e f g h i j",
        3: "k l m n o p q r s t",
    }
    planted = reference.planted_pairs(texts)
    assert sorted(planted) == [(0, 1), (0, 2), (2, 1)]
    j01 = round(8 / 9, 4)
    good = [(0, 1, j01), (0, 2, 1.0), (1, 2, j01)]
    assert reference.check_near_dup_pairs(good, texts, planted) == []
    near_missing, identical_missing = good[:2], good[::2]
    assert reference.check_near_dup_pairs(near_missing, texts, planted)
    assert reference.check_near_dup_pairs(identical_missing, texts, planted)
    assert reference.check_near_dup_pairs(good + [(0, 3, 1.0)], texts, planted)
    assert reference.check_near_dup_pairs([(0, 2, 0.9)] + good[::2], texts, planted)


# -- statistics and metric names ----------------------------------------------


@pytest.mark.parametrize("n", [11, 12, 19, 20, 57, 200])
def test_tail_keeps_ten_samples_beyond(n):
    rng = random.Random(n)
    values = [rng.random() for _ in range(n)]
    pct, value = stats.tail(values)
    beyond = [v for v in values if v > value]
    assert len(beyond) >= stats.TAIL_BEYOND
    assert len(beyond) == stats.TAIL_BEYOND  # and it is the highest such percentile
    assert pct == pytest.approx(100.0 * (n - stats.TAIL_BEYOND) / n)


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10) is None
    assert stats.tail([]) is None


def test_sql_metric_strings_parse():
    assert parse_ms("total (min, med, max (stageId: taskId))\n2.6 s (100 ms, 1.2 s, 1.3 s (stage 3.0: task 7))") == 2600.0
    assert parse_ms("185 ms") == 185.0
    assert parse_ms("1.5 m") == 90_000.0
    assert parse_count("1,234") == 1234.0


def _synthetic_result() -> report.Result:
    res = report.Result(cpus=4)
    res.setup = [{"total_s": 3.0, "create_s": 0.1, "input_s": 1.0, "warm_s": 1.9}] * 3
    res.pass_size = 6
    res.peak_rss_mb = 1000.0
    for i, kind in enumerate(["add", "modify", "bfs", "dfs", "dfs", "bfs"]):
        info = {"depth": 2 + 6 * (i > 3), "levels": 3} if kind in ("bfs", "dfs") else {"files": 4}
        res.samples.append(report.Sample(i, kind, 0, 0.5 + i, True, info, jobs=5))
        res.spans.append(Span(i, f"op.{kind}", i, None, 0.0, 0.5 + i, [1]))
    return res


def test_reported_metrics_are_the_declared_ones_and_well_named():
    e2e = report.result_line(_synthetic_result(), trace=False)["metrics"]
    layer = report.result_line(_synthetic_result(), trace=True)["metrics"]
    declared_e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert {k: v["unit"] for k, v in e2e.items()} == declared_e2e
    assert {k: v["unit"] for k, v in layer.items()} == declared_layer
    for name in list(declared_e2e) + list(declared_layer) + [w["name"] for w in BENCHMARK["workloads"]]:
        assert METRIC_NAME.fullmatch(name) and len(name) <= 64, name


def test_latencies_are_summarized_per_op_class():
    # three whole passes and a partial fourth; the second pass is slow
    res = report.Result(cpus=4, pass_size=4)
    cost = {"add": 0.5, "bfs.d2": 1.0, "bfs.d8": 4.0, "dfs.d8": 4.0}
    for p in range(4):
        for cls, secs in list(cost.items())[: 2 if p == 3 else 4]:
            kind, _, depth = cls.partition(".d")
            info = {"depth": int(depth)} if depth else {}
            res.samples.append(report.Sample(len(res.samples), kind, p, secs * (3 if p == 1 else 1), True, info))
    assert res.passes() == 3.5 and res.full_passes() == 3
    # a median per class, not one over all ops, which would sit between classes
    assert report.class_medians(res.samples) == cost
    metrics = report.end_to_end(res)
    assert metrics["wall_s"] == (9.5, "s")
    assert metrics["op_p50_s"][0] == pytest.approx((0.5 * 1.0 * 4.0 * 4.0) ** 0.25)


def test_a_wrong_answer_counts_as_failed():
    res = _synthetic_result()
    res.samples[2].ok = False
    res.problems = {"setup": ["warm-up answer wrong"]}
    line = report.result_line(res, trace=False)
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 7, 2)
