"""Graph operator tests: FIXTURES.md §B goldens (G1–G5), write-path W1/W2,
and seeded property tests (G6) against pure-Python reference implementations."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.errors import AnalysisException

from distributed_graph_database_system_spark.operators.graph import (
    GraphStore,
    bfs,
    connected_components,
    degrees,
    dfs_leaves,
)
from distributed_graph_database_system_spark.queries.graph import G1, G2, G3, G4


def edges_df(spark, rows):
    return spark.createDataFrame(rows, "src BIGINT, dst BIGINT")


def bfs_rows(spark, rows, start):
    return [(r.vid, r.level) for r in bfs(edges_df(spark, rows), start).collect()]


def leaf_set(spark, rows, start):
    return {r.vid for r in dfs_leaves(edges_df(spark, rows), start).collect()}


# --- Pure-Python reference implementations (canonical semantics) -----------


def py_bfs(adj, start):
    from collections import deque

    level = {start: 0}
    q = deque([start])
    while q:
        v = q.popleft()
        for w in sorted(adj.get(v, ())):
            if w not in level:
                level[w] = level[v] + 1
                q.append(w)
    return sorted(level.items(), key=lambda kv: (kv[1], kv[0]))


def py_dfs_leaves(adj, start):
    import sys

    sys.setrecursionlimit(10_000)
    visited, leaves = {start}, set()

    def visit(v):
        spawned = 0
        for w in sorted(adj.get(v, ())):
            if w not in visited:
                visited.add(w)
                spawned += 1
                visit(w)
        if spawned == 0 and v != start:
            leaves.add(v)

    visit(start)
    return leaves


def py_components(vertices, edge_rows):
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edge_rows:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    # path-compress to component minimum
    return {v: find(v) for v in vertices}


def to_adj(rows):
    adj = {}
    for s, d in rows:
        adj.setdefault(s, set()).add(d)
    return adj


# --- Goldens (FIXTURES.md §B) ----------------------------------------------


def test_bfs_goldens(spark):
    assert bfs_rows(spark, G1, 1) == [(1, 0), (2, 1), (3, 1), (4, 2), (5, 2)]
    assert bfs_rows(spark, G2, 1) == [(1, 0), (2, 1), (3, 1), (4, 2), (5, 3), (6, 4)]
    assert bfs_rows(spark, G3, 1) == [(1, 0), (2, 1), (3, 2), (4, 3)]
    assert bfs_rows(spark, G4, 1) == [(1, 0), (2, 1), (3, 1)]
    assert bfs_rows(spark, G4, 4) == [(4, 0), (5, 1), (6, 2)]
    assert bfs_rows(spark, [], 1) == [(1, 0)]


def test_dfs_goldens(spark):
    assert leaf_set(spark, G1, 1) == {4, 5}
    assert leaf_set(spark, G2, 1) == {3, 6}
    assert leaf_set(spark, G3, 1) == {4}
    assert leaf_set(spark, G4, 1) == {2, 3}
    assert leaf_set(spark, G4, 4) == {6}
    assert leaf_set(spark, [], 1) == set()


def test_connected_components_g4(spark):
    verts = spark.createDataFrame([(v,) for v in range(1, 8)], "vid BIGINT")
    out = connected_components(edges_df(spark, G4), vertices=verts).collect()
    assert {(r.vid, r.comp) for r in out} == {
        (1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4), (7, 7),
    }


def test_degrees(spark):
    out = {r.vid: (r.out_degree, r.in_degree) for r in degrees(edges_df(spark, G2)).collect()}
    assert out == {1: (2, 0), 2: (1, 1), 3: (1, 1), 4: (1, 3), 5: (1, 1), 6: (1, 1)}


# --- Write path W1/W2 (R1 AddGraph / R2 ModifyGraph) -----------------------


def test_graphstore_add_modify(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path))
    store.add("g1", edges_df(spark, G1))
    assert store.exists("g1")
    assert store.load("g1").count() == 8  # W1: 8 directed edge rows

    with pytest.raises(AnalysisException):  # W1: re-add same name errors
        store.add("g1", edges_df(spark, G3))

    store.modify("g1", edges_df(spark, G3))  # W2: full overwrite
    got = {(r.src, r.dst) for r in store.load("g1").collect()}
    assert got == set(G3)

    assert not store.exists("nope")
    # a stray regular file at the path is NOT a graph (parquet directory)
    (tmp_path / "stray").write_text("not a graph")
    assert not store.exists("stray")


def test_graphstore_matrix_roundtrip(spark, tmp_path):
    # Reference input format: n + dense 0/1 matrix (client.c:77-94).
    store = GraphStore(spark, str(tmp_path))
    n = 4
    matrix = [[0] * n for _ in range(n)]
    for s, d in G3:
        matrix[s - 1][d - 1] = 1
    store.add_matrix("g3", n, matrix)
    got = {(r.src, r.dst) for r in store.load("g3").collect()}
    assert got == set(G3)


def test_graphstore_bucketed_layout(spark, tmp_path):
    """GraphStore(buckets=N): same add/modify/load semantics, but the loaded
    table carries bucket metadata — a src-keyed self-join (degree-style
    traversal shape) plans with NO Exchange on either edge side, the
    write-once/co-locate-forever contract from the bfs docstring."""
    store = GraphStore(spark, str(tmp_path), buckets=4)
    try:
        store.add("gb", edges_df(spark, G1))
        assert store.exists("gb")
        got = {(r.src, r.dst) for r in store.load("gb").collect()}
        assert got == set(G1)

        with pytest.raises((AnalysisException, FileExistsError)):  # W1 survives
            store.add("gb", edges_df(spark, G3))
        store.modify("gb", edges_df(spark, G3))  # W2 semantics survive
        assert {(r.src, r.dst) for r in store.load("gb").collect()} == set(G3)

        from pyspark.sql import functions as F

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            e = store.load("gb")
            joined = e.alias("a").join(e.alias("b"), F.col("a.src") == F.col("b.src"))
            plan = joined._jdf.queryExecution().executedPlan().toString()
            # both sides sit on their bucket key → sort-merge join with ZERO
            # Exchange nodes; the write-time shuffle was the last one
            assert "Exchange" not in plan, plan
            # a plain-parquet store of the same data must shuffle both sides
            flat = GraphStore(spark, str(tmp_path / "flat"))
            flat.add("gb", edges_df(spark, G3))
            fe = flat.load("gb")
            fplan = (
                fe.alias("a")
                .join(fe.alias("b"), F.col("a.src") == F.col("b.src"))
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert fplan.count("Exchange") >= 2, fplan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {store.table_name('gb')}")


def test_graphstore_rejects_bad_names(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path))
    for bad in ("", "a/b", ".hidden"):
        with pytest.raises(ValueError):
            store.path(bad)


# --- Property tests G6: seeded random digraphs vs Python reference ---------


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_traversals_match_reference_on_random_graphs(spark, seed):
    rng = random.Random(seed)
    n = rng.randint(1, 30)  # the reference's cap (utils.h:26)
    p = rng.choice([0.1, 0.3])
    rows = [
        (i, j)
        for i in range(1, n + 1)
        for j in range(1, n + 1)
        if i != j and rng.random() < p
    ]
    adj = to_adj(rows)
    start = rng.randint(1, n)

    got_bfs = bfs_rows(spark, rows, start)
    want_bfs = py_bfs(adj, start)
    assert got_bfs == want_bfs  # exact (level, vid) order

    got_leaves = leaf_set(spark, rows, start)
    want_leaves = py_dfs_leaves(adj, start)
    assert got_leaves == want_leaves

    # invariants: leaf set ⊆ reachable minus start; every reachable sink is a leaf
    reachable = {v for v, _ in want_bfs}
    assert got_leaves <= reachable - {start}
    for v in reachable - {start}:
        if not adj.get(v):
            assert v in got_leaves


@pytest.mark.parametrize("seed", [0, 1])
def test_components_match_union_find(spark, seed):
    rng = random.Random(seed)
    n = rng.randint(2, 25)
    rows = [
        (i, j)
        for i in range(1, n + 1)
        for j in range(1, n + 1)
        if i != j and rng.random() < 0.08
    ]
    verts = spark.createDataFrame([(v,) for v in range(1, n + 1)], "vid BIGINT")
    got = {
        (r.vid, r.comp)
        for r in connected_components(edges_df(spark, rows), vertices=verts).collect()
    }
    want = set(py_components(range(1, n + 1), rows).items())
    assert got == want


def test_star_components_on_path_match_union_find(spark):
    """The O(log n)-round star algorithm must label like a driver-side
    union-find on a path graph (the high-diameter case star CC exists
    for) with isolated vertices."""
    path = [(i, i + 1) for i in range(1, 12)]  # diameter 11
    rows = path + [(20, 21), (21, 20)]
    verts = spark.createDataFrame([(v,) for v in range(1, 25)], "vid BIGINT")
    e = edges_df(spark, rows)
    star = {
        (r.vid, r.comp)
        for r in connected_components(e, vertices=verts).collect()
    }
    assert star == set(py_components(range(1, 25), rows).items())


def test_pagerank_matches_sequential_reference(spark):
    from distributed_graph_database_system_spark.operators.graph import pagerank

    got = {r.vid: r.rank for r in pagerank(edges_df(spark, G2), iterations=20).collect()}
    # independent sequential implementation
    n, d = 6, 0.85
    out = {}
    for s, t in G2:
        out.setdefault(s, []).append(t)
    pr = {v: 1 / n for v in range(1, 7)}
    for _ in range(20):
        contrib = {v: 0.0 for v in range(1, 7)}
        for s, ts in out.items():
            for t in ts:
                contrib[t] += pr[s] / len(ts)
        pr = {v: (1 - d) / n + d * contrib[v] for v in range(1, 7)}
    assert set(got) == set(pr)
    for v in pr:
        assert abs(got[v] - pr[v]) < 1e-9
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_personalized_pagerank_matches_sequential_reference(spark):
    from distributed_graph_database_system_spark.operators.graph import (
        personalized_pagerank,
    )

    got = {
        r.vid: r.rank
        for r in personalized_pagerank(
            edges_df(spark, G2), sources=(1,), iterations=20
        ).collect()
    }
    # independent sequential implementation: teleport + dangling → source
    d = 0.85
    out = {}
    for s, t in G2:
        out.setdefault(s, []).append(t)
    p = {v: (1.0 if v == 1 else 0.0) for v in range(1, 7)}
    pr = dict(p)
    for _ in range(20):
        contrib = {v: 0.0 for v in range(1, 7)}
        dangling = sum(r for v, r in pr.items() if v not in out)
        for s, ts in out.items():
            for t in ts:
                contrib[t] += pr[s] / len(ts)
        pr = {
            v: (1 - d) * p[v] + d * (contrib[v] + dangling * p[v])
            for v in range(1, 7)
        }
    assert set(got) == set(pr)
    for v in pr:
        assert abs(got[v] - pr[v]) < 1e-9
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # proximity semantics: nothing points back at the source in G2, so its
    # rank is exactly the teleport share (1-d)·1 — and every vertex
    # reachable from the source ends up with positive rank
    assert abs(got[1] - 0.15) < 1e-9
    assert all(r > 0 for r in got.values())


def test_pagerank_dangling_mass_redistributed(spark):
    from distributed_graph_database_system_spark.operators.graph import pagerank

    # chain 1->2->3: vertex 3 is dangling; ranks must still sum to 1
    got = {r.vid: r.rank for r in pagerank(edges_df(spark, G3), iterations=15).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[4] > got[1]  # rank accumulates down the chain


def test_personalized_pagerank_from_every_vertex_is_pagerank(spark):
    """With every vertex a source the restart vector is uniform, so both
    callers of the shared PageRank loop must give the same ranks: on G2
    and on a graph with two dangling vertices (4 and 5)."""
    from distributed_graph_database_system_spark.operators.graph import (
        pagerank,
        personalized_pagerank,
    )

    for rows in (G2, [(1, 2), (2, 3), (3, 4), (1, 5)]):
        e = edges_df(spark, rows)
        verts = sorted({v for edge in rows for v in edge})
        plain = {r.vid: r.rank for r in pagerank(e, iterations=2).collect()}
        personal = {
            r.vid: r.rank
            for r in personalized_pagerank(e, verts, iterations=2).collect()
        }
        assert set(plain) == set(personal) == set(verts)
        for v in verts:
            assert abs(plain[v] - personal[v]) < 1e-12


def test_triangle_count(spark):
    from distributed_graph_database_system_spark.operators.graph import triangle_count

    # K4 minus one edge has 2 triangles; canonical src<dst edges
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)]
    got = triangle_count(edges_df(spark, edges)).collect()[0].n_triangles
    assert got == 2


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_triangles_match_bruteforce_listing(spark, seed):
    """The shared enumerator against a brute-force listing on seeded graphs
    with one high-degree hub (a random id, so orientation rather than id
    order must bound its fan-out), duplicate edges in both directions and
    self-loops, canonicalized by ``_undirected``: every triangle appears
    exactly once, each corner order follows the (degree, vid) key, and the
    per-vertex credit equals a brute-force count."""
    from itertools import combinations

    from distributed_graph_database_system_spark.operators.graph import (
        _undirected,
        _vertex_credit,
        triangles,
    )

    rng = random.Random(seed)
    n = rng.randint(12, 30)
    hub = rng.randint(1, n)
    rows = [(hub, v) for v in range(1, n + 1) if v != hub]
    rows += [(rng.randint(1, n), rng.randint(1, n)) for _ in range(3 * n)]
    rows += [(b, a) for a, b in rows[: n // 2]] + rows[n // 2 : n]
    rows += [(v, v) for v in rng.sample(range(1, n + 1), 3)]
    adj: dict[int, set[int]] = {}
    for a, b in rows:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    want = {
        (x, y, z)
        for x, y, z in combinations(sorted(adj), 3)
        if y in adj[x] and z in adj[x] and z in adj[y]
    }
    assert want, "fixture must contain triangles"

    tri = triangles(_undirected(edges_df(spark, rows))).localCheckpoint()
    got = [tuple(r) for r in tri.collect()]
    assert len(got) == len(want)
    assert {tuple(sorted(t)) for t in got} == want

    def key(v):
        return (len(adj[v]), v)

    assert all(key(u) < key(v) < key(w) for u, v, w in got)
    # per-vertex credit: adjacent pairs among each vertex's neighbours
    credit = {
        v: sum(1 for x, y in combinations(sorted(nbrs), 2) if y in adj[x])
        for v, nbrs in adj.items()
    }
    assert dict(_vertex_credit(tri).collect()) == {
        v: c for v, c in credit.items() if c
    }


def spy_distributed_traversals(monkeypatch):
    """Record the name of every ``G.bfs`` / ``G.dfs_leaves`` call (the
    ``bfs`` call inside ``dfs_leaves`` included)."""
    from distributed_graph_database_system_spark.operators import graph as G

    calls = []
    for attr in ("bfs", "dfs_leaves"):
        def spy(*args, _fn=getattr(G, attr), _attr=attr, **kwargs):
            calls.append(_attr)
            return _fn(*args, **kwargs)

        monkeypatch.setattr(G, attr, spy)
    return calls


@pytest.mark.parametrize("cap", [None, 0], ids=["default_cap", "cap0"])
def test_engine_facade_mirrors_reference_client_ops(spark, tmp_path, monkeypatch, cap):
    """The four reference client menu ops (client.c:26-31) end-to-end, on
    both sides of the Engine's collect cap: under the default cap every read
    is served on the driver, and cap 0 sends it through the distributed
    ``G.bfs`` / ``G.dfs_leaves``."""
    from distributed_graph_database_system_spark.api import Engine
    from distributed_graph_database_system_spark.operators import graph as G

    if cap is not None:
        monkeypatch.setattr(G, "MAX_COLLECT_EDGES", cap)
    calls = spy_distributed_traversals(monkeypatch)
    eng = Engine(spark, str(tmp_path))
    assert eng.add_graph("g", 5, matrix_of(5, G1)) == "File successfully added"
    assert eng.bfs_text("g", 1) == "1 2 3 4 5"
    assert eng.dfs_text("g", 1) == "4 5"

    assert eng.modify_graph("g", 4, matrix_of(4, G3)) == "File successfully modified"
    assert eng.bfs_text("g", 1) == "1 2 3 4"
    assert eng.dfs_text("g", 1) == "4"
    assert set(calls) == (set() if cap is None else {"bfs", "dfs_leaves"})


def matrix_of(n, rows):
    """The reference's n×n 0/1 adjacency matrix of the edges ``rows``."""
    matrix = [[0] * n for _ in range(n)]
    for s, d in rows:
        matrix[s - 1][d - 1] = 1
    return matrix


def jobs_started(spark, group, fn, *args):
    """``fn(*args)`` and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        got = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return got, len(sc.statusTracker().getJobIdsForGroup(group))


def test_engine_small_graph_read_is_one_job(spark, tmp_path):
    """Under the collect cap, the first read of a graph after a write is one
    guarded collect, one Spark job, even for a 30-vertex cycle (depth 29,
    180 jobs on the distributed frontier loop); a repeat read of the
    unchanged graph is served from the engine's adjacency with no job."""
    from distributed_graph_database_system_spark.api import Engine

    eng = Engine(spark, str(tmp_path))
    n = 30
    cycle = [(v, v % n + 1) for v in range(1, n + 1)]
    steps = [
        ("add", "bfs_text", " ".join(str(v) for v in range(1, n + 1)), 1),
        ("repeat", "bfs_text", " ".join(str(v) for v in range(1, n + 1)), 0),
        ("repeat", "dfs_text", str(n), 0),
        ("modify", "bfs_text", "1 2 3 4", 1),
        ("repeat", "dfs_text", "4", 0),
    ]
    eng.add_graph("cycle", n, matrix_of(n, cycle))
    for i, (after, op, text, jobs) in enumerate(steps):
        if after == "modify":
            eng.modify_graph("cycle", 4, matrix_of(4, G3))
        group = f"test_engine_small_graph_read_is_one_job.{i}.{op}"
        assert jobs_started(spark, group, getattr(eng, op), "cycle", 1) == (
            text,
            jobs,
        ), (after, op)


def test_engine_read_sees_another_engines_write(spark, tmp_path):
    """Two engines over one root: a write through one changes the store's
    listing, so the other's cached adjacency is not served again."""
    from distributed_graph_database_system_spark.api import Engine

    a, b = Engine(spark, str(tmp_path)), Engine(spark, str(tmp_path))
    a.add_graph("g", 5, matrix_of(5, G1))
    assert (a.bfs_text("g", 1), a.dfs_text("g", 1)) == ("1 2 3 4 5", "4 5")
    b.modify_graph("g", 4, matrix_of(4, G3))
    assert (a.bfs_text("g", 1), a.dfs_text("g", 1)) == ("1 2 3 4", "4")


def test_engine_cache_rechecks_the_cap_on_every_read(spark, tmp_path, monkeypatch):
    """A cached graph is served only while it fits under the cap read at
    call time: after the cap drops to 0, the same engine runs the
    distributed ``G.bfs`` / ``G.dfs_leaves``."""
    from distributed_graph_database_system_spark.api import Engine
    from distributed_graph_database_system_spark.operators import graph as G

    calls = spy_distributed_traversals(monkeypatch)
    eng = Engine(spark, str(tmp_path))
    eng.add_graph("g", 5, matrix_of(5, G1))
    assert (eng.bfs_text("g", 1), eng.dfs_text("g", 1)) == ("1 2 3 4 5", "4 5")
    assert calls == []
    monkeypatch.setattr(G, "MAX_COLLECT_EDGES", 0)
    assert (eng.bfs_text("g", 1), eng.dfs_text("g", 1)) == ("1 2 3 4 5", "4 5")
    assert set(calls) == {"bfs", "dfs_leaves"}


def test_engine_read_of_missing_graph_raises(spark, tmp_path):
    """A missing graph, or a missing store root, raises the read's
    ``AnalysisException`` and caches nothing."""
    from distributed_graph_database_system_spark.api import Engine

    for root in (tmp_path, tmp_path / "absent"):
        eng = Engine(spark, str(root))
        for op in (eng.bfs_text, eng.dfs_text):
            with pytest.raises(AnalysisException):
                op("missing", 1)
        assert not eng._adjacency


def test_engine_cache_holds_at_most_the_cap_of_edges(spark, tmp_path, monkeypatch):
    """Cached adjacencies hold at most ``MAX_COLLECT_EDGES`` edges in all,
    evicting the least recently read graph first, also under concurrent
    reads from more threads than cores."""
    import sys
    import threading

    from distributed_graph_database_system_spark.api import Engine
    from distributed_graph_database_system_spark.operators import graph as G

    cap = 6
    monkeypatch.setattr(G, "MAX_COLLECT_EDGES", cap)
    eng = Engine(spark, str(tmp_path))
    chains = {f"c{k}": [(v, v + 1) for v in range(1, k + 1)] for k in (2, 3, 4)}
    for name, rows in chains.items():
        eng.add_graph(name, len(rows) + 1, matrix_of(len(rows) + 1, rows))
    want = {name: " ".join(map(str, range(1, len(rows) + 2))) for name, rows in chains.items()}

    def cached():
        counts = [entry[1] for entry in eng._adjacency.values()]
        assert sum(counts) == eng._adjacency_edges <= cap
        return list(eng._adjacency)

    for name, cached_after in (("c2", ["c2"]), ("c3", ["c2", "c3"]), ("c4", ["c4"])):
        assert eng.bfs_text(name, 1) == want[name]
        assert cached() == cached_after

    errors, names = [], list(chains) * 2

    def reader(i):
        try:
            for name in names[i:] + names[:i]:
                assert eng.bfs_text(name, 1) == want[name]
        except Exception as exc:  # reported by the main thread
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    cached()


def test_reference_file_format_roundtrip(spark, tmp_path):
    """Graphs in the reference's own at-rest text format (count line + n×n
    matrix, primaryServer.c:43-49) load unchanged."""
    store = GraphStore(spark, str(tmp_path))
    ref_file = tmp_path / "g1.txt"
    n = 5
    matrix = [[0] * n for _ in range(n)]
    for s, d in G1:
        matrix[s - 1][d - 1] = 1
    ref_file.write_text(
        f"{n}\n" + "\n".join(" ".join(str(c) for c in row) for row in matrix) + "\n"
    )
    store.add_reference_file("g1", str(ref_file))
    got = {(r.src, r.dst) for r in store.load("g1").collect()}
    assert got == set(G1)

    with pytest.raises(ValueError, match="matrix cells"):
        GraphStore.parse_reference_file("3\n0 1\n")
    with pytest.raises(ValueError, match="empty"):
        GraphStore.parse_reference_file("")


def test_matrix_door_validates_every_cell(spark, tmp_path):
    """Engine.add_graph/modify_graph hold the reference-file door's cell
    contract (GraphStore.validate_matrix_row): exactly n rows of n cells,
    each 0 or 1. A rejected write leaves the store untouched."""
    from distributed_graph_database_system_spark.api import Engine

    eng = Engine(spark, str(tmp_path))
    bad = [
        [[0, 2], [0, 0]],  # non-0/1 cell
        [[0, 1], [0]],  # short row
        [[0, 1, 0], [0, 0, 0]],  # extra column
        [[0, 1], [0, 0], [0, 0]],  # extra row
        [[0, 1]],  # missing row
    ]
    for matrix in bad:
        with pytest.raises(ValueError, match="matrix"):
            eng.add_graph("x", 2, matrix)
    assert not eng.store.exists("x")
    eng.add_graph("x", 2, [[0, 1], [0, 0]])
    for matrix in bad:
        with pytest.raises(ValueError, match="matrix"):
            eng.modify_graph("x", 2, matrix)
    assert eng.bfs_text("x", 1) == "1 2"


def test_small_driver_frames_are_local_relations(spark, tmp_path):
    """The matrix door's edge frame, the traversal seeds and the DFS reply
    are JVM-local relations (LocalTableScan), not Python-RDD frames or seed
    checkpoints (both plan as Scan ExistingRDD)."""
    from pyspark.sql import functions as F

    from distributed_graph_database_system_spark.operators.graph import (
        multi_source_bfs,
        multi_source_bfs_all,
        temporal_bfs,
    )

    edges = GraphStore(spark, str(tmp_path)).edges_from_matrix(
        2, [[0, 1], [0, 0]]
    )
    # vertex 2 has no out-edges: each traversal from it is its seed alone
    seed = bfs(edges, 2)
    nearest = multi_source_bfs(edges, [2])
    trees = multi_source_bfs_all(edges, [2])
    temporal = temporal_bfs(
        edges.select("src", "dst", F.lit(0).cast("timestamp").alias("ts")), 2
    )
    leaves = dfs_leaves(edges, 1)
    for df in (edges, seed, nearest, trees, temporal, leaves):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert [tuple(r) for r in seed.collect()] == [(2, 0)]
    assert [tuple(r) for r in nearest.collect()] == [(2, 0, 2)]
    assert [tuple(r) for r in trees.collect()] == [(2, 2, 0)]
    assert [tuple(r) for r in temporal.collect()] == [(2, None)]
    assert [r.vid for r in leaves.collect()] == [2]


def test_bfs_exhaustion_boundary_releases_cache(spark):
    """G2 from vertex 1 is 4 levels deep: max_iter=5 leaves room for the
    empty probe level, max_iter=4 raises with the advice to raise it, and
    the raise leaves no persisted edge frame behind."""

    def cached_rdds():
        # localCheckpoint registers each checkpointed level as a persistent
        # RDD too (its blocks live until GC); count only cache entries
        rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
        return sum(1 for rdd in rdds if not rdd.isCheckpointed())

    edges = edges_df(spark, G2)
    before = cached_rdds()
    with pytest.raises(RuntimeError, match="did not exhaust.*raise max_iter"):
        bfs(edges, 1, max_iter=4)
    assert cached_rdds() <= before
    got = [(r.vid, r.level) for r in bfs(edges, 1, max_iter=5).collect()]
    assert got == [(1, 0), (2, 1), (3, 1), (4, 2), (5, 3), (6, 4)]


def test_plain_graph_load_starts_no_job(spark, tmp_path):
    """A plain-parquet load declares EDGE_SCHEMA instead of inferring it
    from the footers, so opening a graph runs no Spark job."""
    store = GraphStore(spark, str(tmp_path))
    store.add_matrix("g", 2, [[0, 1], [0, 0]])
    sc = spark.sparkContext
    group = "test_plain_graph_load_starts_no_job"
    sc.setJobGroup(group, "GraphStore.load")
    try:
        loaded = store.load("g")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert loaded.schema.simpleString() == "struct<src:bigint,dst:bigint>"
    assert [tuple(r) for r in loaded.collect()] == [(1, 2)]
    with pytest.raises(AnalysisException):
        store.load("missing")


def test_sssp_weighted_matches_dijkstra(spark):
    from heapq import heappop, heappush

    from distributed_graph_database_system_spark.operators.graph import sssp_weighted

    wedges = [
        (1, 2, 4.0), (1, 3, 1.0), (3, 2, 2.0), (2, 4, 5.0),
        (3, 4, 8.0), (4, 5, 1.0), (2, 5, 10.0),
    ]
    df = spark.createDataFrame(wedges, "src BIGINT, dst BIGINT, weight DOUBLE")
    got = {r.vid: r.distance for r in sssp_weighted(df, start=1).collect()}

    adj = {}
    for s, d, w in wedges:
        adj.setdefault(s, []).append((d, w))
    dist = {1: 0.0}
    pq = [(0.0, 1)]
    while pq:
        du, u = heappop(pq)
        if du > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = du + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heappush(pq, (nd, v))
    assert got == dist
    # the indirect route 1->3->2 (3.0) must beat the direct edge (4.0)
    assert got[2] == 3.0


# --- k-core decomposition --------------------------------------------------


def py_k_core(rows, k):
    """Sequential peeling reference: undirected simple graph."""
    adj: dict[int, set[int]] = {}
    for a, b in rows:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for v in [v for v, ns in adj.items() if len(ns) < k]:
            for u in adj[v]:
                adj[u].discard(v)
            del adj[v]
            changed = True
    return {v: len(ns) for v, ns in adj.items()}


def test_kcore_golden_clique_extraction(spark):
    from distributed_graph_database_system_spark.operators.graph import k_core
    from distributed_graph_database_system_spark.queries.graph import G6

    got = {
        r["vid"]: r["core_degree"]
        for r in k_core(spark.createDataFrame(G6, "src BIGINT, dst BIGINT"), k=3).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_full_graph_when_no_subk_vertices(spark):
    from distributed_graph_database_system_spark.operators.graph import k_core
    from distributed_graph_database_system_spark.queries.graph import G6

    got = {
        r["vid"]: r["core_degree"]
        for r in k_core(spark.createDataFrame(G6, "src BIGINT, dst BIGINT"), k=2).collect()
    }
    # pendant 10 peels; everything else has degree >= 2 in the remainder
    assert got == py_k_core(G6, 2)
    assert 10 not in got and len(got) == 9


def test_kcore_empty_when_k_exceeds_max_core(spark):
    from distributed_graph_database_system_spark.operators.graph import k_core
    from distributed_graph_database_system_spark.queries.graph import G6

    assert k_core(spark.createDataFrame(G6, "src BIGINT, dst BIGINT"), k=4).count() == 0


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_kcore_matches_python_peeling_on_random_graphs(spark, seed):
    from distributed_graph_database_system_spark.operators.graph import k_core

    rng = random.Random(seed)
    n = rng.randint(5, 30)
    rows = [
        (i, j)
        for i in range(1, n + 1)
        for j in range(i + 1, n + 1)
        if rng.random() < 0.25
    ]
    if not rows:
        return
    e = spark.createDataFrame(rows, "src BIGINT, dst BIGINT")
    for k in (2, 3):
        got = {r["vid"]: r["core_degree"] for r in k_core(e, k=k).collect()}
        assert got == py_k_core(rows, k), (seed, k)


# --- Label propagation ------------------------------------------------------


def py_lpa(rows, iters):
    """Sequential synchronous LPA reference: most-frequent neighbor label,
    smallest label on ties, fixed round count."""
    adj: dict[int, set[int]] = {}
    for a, b in rows:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lab = {v: v for v in adj}
    for _ in range(iters):
        new = {}
        for v, ns in adj.items():
            cnt: dict[int, int] = {}
            for u in ns:
                cnt[lab[u]] = cnt.get(lab[u], 0) + 1
            new[v] = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        lab = new
    return lab


def test_lpa_golden_g6(spark):
    from distributed_graph_database_system_spark.operators.graph import (
        label_propagation,
    )
    from distributed_graph_database_system_spark.queries.graph import G6

    got = {
        r["vid"]: r["label"]
        for r in label_propagation(
            spark.createDataFrame(G6, "src BIGINT, dst BIGINT"), max_iter=10
        ).collect()
    }
    assert got == py_lpa(G6, 10)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 7: 1, 8: 1, 9: 4, 10: 4}


@pytest.mark.parametrize("seed", [0, 1])
def test_lpa_matches_python_reference_on_random_graphs(spark, seed):
    from distributed_graph_database_system_spark.operators.graph import (
        label_propagation,
    )

    rng = random.Random(seed)
    n = rng.randint(5, 25)
    rows = [
        (i, j)
        for i in range(1, n + 1)
        for j in range(i + 1, n + 1)
        if rng.random() < 0.2
    ]
    if not rows:
        return
    e = spark.createDataFrame(rows, "src BIGINT, dst BIGINT")
    for iters in (3, 7):
        got = {
            r["vid"]: r["label"]
            for r in label_propagation(e, max_iter=iters).collect()
        }
        assert got == py_lpa(rows, iters), (seed, iters)


def test_cli_list_and_query_subcommands(spark, capsys):
    """CLI: list-queries prints the registry; query runs a registered query
    (reusing the session fixture via getOrCreate); graph ops require --root."""
    from distributed_graph_database_system_spark import cli

    assert cli.main(["list-queries"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary\toracle" in out
    assert "agg_median_approx\trows-only" in out

    assert cli.main(["--cpus", "8", "query", "graph_kcore_g6"]) == 0
    out = capsys.readouterr().out
    assert "vid" in out and "core_degree" in out

    assert cli.main(["query", "not_a_query"]) == 2

    assert cli.main(["--cpus", "8", "explain", "q3_shipping_priority"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "BroadcastHashJoin" in out

    with pytest.raises(SystemExit):
        cli.main(["dfs", "g1", "1"])  # --root required for graph ops


# --- topological levels / cycle detection -----------------------------------


def _edge_df(spark, rows):
    return spark.createDataFrame(rows, "src BIGINT, dst BIGINT")


def test_topo_levels_longest_path_semantics(spark):
    from distributed_graph_database_system_spark.operators.graph import topo_levels
    from distributed_graph_database_system_spark.queries.graph import G7_DAG

    got = {
        (r.vid, r.topo_level)
        for r in topo_levels(_edge_df(spark, G7_DAG)).collect()
    }
    # vertex 5 has the skip edge 1→5 but must sit at its LONGEST-path level
    assert got == {(1, 0), (7, 0), (2, 1), (3, 1), (4, 2), (6, 2), (5, 3)}


def test_topo_levels_raises_on_cycle_and_has_cycle_agrees(spark):
    from distributed_graph_database_system_spark.operators.graph import (
        has_cycle,
        topo_levels,
    )
    from distributed_graph_database_system_spark.queries.graph import G2, G7_DAG

    with pytest.raises(ValueError, match="cycle"):
        topo_levels(_edge_df(spark, G2))  # G2 contains 4→5→6→4
    assert has_cycle(_edge_df(spark, G2))
    assert not has_cycle(_edge_df(spark, G7_DAG))


def test_topo_levels_self_loop_is_a_cycle(spark):
    from distributed_graph_database_system_spark.operators.graph import has_cycle

    assert has_cycle(_edge_df(spark, [(1, 2), (2, 2)]))


def test_topo_levels_empty_graph(spark):
    from distributed_graph_database_system_spark.operators.graph import topo_levels

    out = topo_levels(_edge_df(spark, []).limit(0))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vid", "topo_level"]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_topo_levels_matches_python_reference_on_random_dags(spark, seed):
    """Random DAGs (edges only low→high vertex id, so acyclic by
    construction) against a sequential longest-path-level reference."""
    rng = random.Random(seed)
    n = 40
    edges = sorted(
        {
            (a, b)
            for _ in range(120)
            for a, b in [sorted(rng.sample(range(1, n + 1), 2))]
        }
    )
    # python reference: level(v) = 1 + max(level of predecessors), 0 if none
    preds: dict[int, list[int]] = {}
    verts = sorted({v for e in edges for v in e})
    for a, b in edges:
        preds.setdefault(b, []).append(a)
    level = {}
    for v in verts:  # ascending id IS a topological order here
        level[v] = 1 + max((level[p] for p in preds.get(v, [])), default=-1)

    from distributed_graph_database_system_spark.operators.graph import topo_levels

    got = {
        (r.vid, r.topo_level)
        for r in topo_levels(
            spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
        ).collect()
    }
    assert got == {(v, lv) for v, lv in level.items()}


# --- motif (pattern) matching ----------------------------------------------


def test_find_motif_patterns_and_errors(spark):
    from distributed_graph_database_system_spark.operators.graph import find_motif
    from distributed_graph_database_system_spark.queries.graph import G2

    e = _edge_df(spark, G2)  # (1,2)(1,3)(2,4)(3,4)(4,5)(5,6)(6,4)
    # convergence "a->b; c->b": pairs of distinct-or-equal parents per child
    conv = {
        (r.a, r.b, r.c) for r in find_motif(e, "a->b; c->b").collect()
    }
    assert (2, 4, 3) in conv and (3, 4, 2) in conv  # 2→4 ← 3
    assert (6, 4, 2) in conv  # cycle edge 6→4 converges with 2→4

    # 2-hop chain binds through the middle variable
    chain = {(r.a, r.b, r.c) for r in find_motif(e, "a->b; b->c").collect()}
    assert (1, 2, 4) in chain and (4, 5, 6) in chain and (5, 6, 4) in chain

    # feed-forward triangle: none exists in G2
    assert find_motif(e, "a->b; b->c; a->c").isEmpty()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="bad edge atom"):
        find_motif(e, "a=>b")
    with _pytest.raises(ValueError, match="shares no variable"):
        find_motif(e, "a->b; c->d")
    with _pytest.raises(ValueError, match="self-loop"):
        find_motif(e, "a->a")


# --- strongly connected components ------------------------------------------


def py_sccs(vertices, edge_rows):
    """Iterative Tarjan; returns {vid: min-member-of-its-scc}."""
    adj = {}
    for s, d in edge_rows:
        adj.setdefault(s, []).append(d)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    out = {}
    counter = [0]

    def strongconnect(v0):
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            advanced = False
            for i in range(pi, len(adj.get(v, []))):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    advanced = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    out[w] = m
            work.pop()
            if work:
                pv, _ = work[-1]
                low[pv] = min(low[pv], low[v])

    for v in sorted(vertices):
        if v not in index:
            strongconnect(v)
    return out


def test_scc_goldens(spark):
    from distributed_graph_database_system_spark.operators.graph import (
        strongly_connected_components,
    )
    from distributed_graph_database_system_spark.queries.graph import G2, G3

    got = {
        (r.vid, r.scc)
        for r in strongly_connected_components(_edge_df(spark, G2)).collect()
    }
    assert got == {(1, 1), (2, 2), (3, 3), (4, 4), (5, 4), (6, 4)}
    # pure DAG: all singletons (resolved entirely by trimming)
    got3 = {
        (r.vid, r.scc)
        for r in strongly_connected_components(_edge_df(spark, G3)).collect()
    }
    assert got3 == {(1, 1), (2, 2), (3, 3), (4, 4)}
    # a vertex whose ONLY edge is a self-loop is a singleton component,
    # not a dropped vertex
    got_loop = {
        (r.vid, r.scc)
        for r in strongly_connected_components(
            _edge_df(spark, [(1, 2), (2, 1), (3, 3)])
        ).collect()
    }
    assert got_loop == {(1, 1), (2, 1), (3, 3)}
    # a long single cycle exceeds the old conflated bound: 150 color hops
    # must converge without raising (max_hops, not max_iter, caps them)
    cyc = [(i, i + 1) for i in range(1, 150)] + [(150, 1)]
    out = strongly_connected_components(_edge_df(spark, cyc)).collect()
    assert len(out) == 150 and {r.scc for r in out} == {1}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_scc_matches_tarjan_on_random_digraphs(spark, seed):
    from distributed_graph_database_system_spark.operators.graph import (
        strongly_connected_components,
    )

    rng = random.Random(seed)
    n = 25
    # self-loops INCLUDED: a vertex whose only edge is v→v must still come
    # back as a singleton component
    edges = sorted(
        {
            (rng.randint(1, n), rng.randint(1, n))
            for _ in range(60)
        }
    )
    verts = {v for e in edges for v in e}
    want = py_sccs(verts, edges)
    got = {
        r.vid: r.scc
        for r in strongly_connected_components(
            _edge_df(spark, edges)
        ).collect()
    }
    assert got == want


def test_scc_max_hops_raises_from_each_inner_loop_and_releases_cache(spark):
    """``max_hops`` bounds both of SCC's inner loops, and exceeding either
    raises instead of truncating, with no cache entry left behind.

    - A 6-cycle needs 5 coloring supersteps that change a color plus one
      that changes none: ``max_hops=5`` raises from pregel, 6 passes.
    - A hub ``h`` with edges to every chain vertex, on the chain
      ``c1 -> c2 -> c3 -> c4 -> h``, colors in 2 supersteps when ``h``
      holds the top round-0 priority, but the backward walk from ``h``
      needs 4 levels plus the empty probe: ``max_hops=3`` raises from it.
    """
    from pyspark.sql import functions as F

    from distributed_graph_database_system_spark.operators.graph import (
        strongly_connected_components,
    )

    def cached_rdds():
        # checkpointed levels are registered too (released by GC); count
        # only cache entries, as in test_bfs_exhaustion_boundary_releases_cache
        rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
        return sum(1 for rdd in rdds if not rdd.isCheckpointed())

    def scc(rows, max_hops):
        out = strongly_connected_components(
            _edge_df(spark, rows), max_hops=max_hops
        )
        return {(r.vid, r.scc) for r in out.collect()}

    cycle = [(v, v % 6 + 1) for v in range(1, 7)]
    before = cached_rdds()
    with pytest.raises(RuntimeError, match="pregel did not converge"):
        scc(cycle, max_hops=5)
    assert cached_rdds() <= before
    assert scc(cycle, max_hops=6) == {(v, 1) for v in range(1, 7)}

    # the hub is the vid with the top (xxhash64(vid, 0), vid) priority,
    # the order SCC's first coloring round draws
    hub = (
        spark.range(1, 6)
        .orderBy(F.desc(F.xxhash64("id", F.lit(0))), F.desc("id"))
        .first()
        .id
    )
    chain = [v for v in range(1, 6) if v != hub]
    rows = [(hub, c) for c in chain]
    rows += list(zip(chain, chain[1:] + [hub]))
    with pytest.raises(RuntimeError, match="scc backward walk did not exhaust"):
        scc(rows, max_hops=3)
    assert cached_rdds() <= before
    assert scc(rows, max_hops=5) == {(v, 1) for v in range(1, 6)}


# --- multi-source (landmark) BFS --------------------------------------------


def test_multi_source_bfs_nearest_landmark(spark):
    from distributed_graph_database_system_spark.operators.graph import (
        multi_source_bfs,
    )
    from distributed_graph_database_system_spark.queries.graph import G2

    # G2: 1→2,1→3,2→4,3→4,4→5,5→6,6→4; landmarks {1, 5}
    got = {
        (r.vid, r.level, r.landmark)
        for r in multi_source_bfs(_edge_df(spark, G2), [1, 5]).collect()
    }
    assert got == {
        (1, 0, 1),
        (5, 0, 5),
        (2, 1, 1),
        (3, 1, 1),
        (6, 1, 5),
        (4, 2, 1),  # reached at level 2 by BOTH walks; tie → landmark 1
    }


def test_multi_source_bfs_matches_per_source_min(spark, seed=7):
    from distributed_graph_database_system_spark.operators.graph import (
        bfs,
        multi_source_bfs,
    )

    rng = random.Random(seed)
    n = 30
    edges = sorted(
        {(rng.randint(1, n), rng.randint(1, n)) for _ in range(70)}
    )
    edges = [(a, b) for a, b in edges if a != b]
    landmarks = [3, 11, 19]
    per = {}
    for s in landmarks:
        for r in bfs(_edge_df(spark, edges), s).collect():
            cur = per.get(r.vid)
            if cur is None or (r.level, s) < cur:
                per[r.vid] = (r.level, s)
    got = {
        r.vid: (r.level, r.landmark)
        for r in multi_source_bfs(_edge_df(spark, edges), landmarks).collect()
    }
    assert got == per


def test_multi_source_bfs_all_matches_per_seed_bfs(spark, seed=11):
    from distributed_graph_database_system_spark.operators.graph import (
        bfs,
        multi_source_bfs_all,
    )

    rng = random.Random(seed)
    n = 30
    edges = sorted(
        {(rng.randint(1, n), rng.randint(1, n)) for _ in range(70)}
    )
    edges = [(a, b) for a, b in edges if a != b]
    landmarks = [3, 11, 19]
    per = {}
    for s in landmarks:
        for r in bfs(_edge_df(spark, edges), s).collect():
            per[(s, r.vid)] = r.level
    got = {
        (r.seed, r.vid): r.level
        for r in multi_source_bfs_all(
            _edge_df(spark, edges), landmarks
        ).collect()
    }
    assert got == per


def test_multi_source_bfs_all_round_count_is_max_depth(spark):
    # The whole point of the operator: |landmarks| BFS trees in ONE
    # frontier. Executed join rounds = max per-seed eccentricity + 1
    # (final empty probe) — NOT landmarks × depth, which is what the
    # sequential per-landmark loop it replaced would cost.
    from distributed_graph_database_system_spark.operators.graph import (
        multi_source_bfs_all,
    )
    from distributed_graph_database_system_spark.queries.graph import G2

    stats: dict = {}
    rows = multi_source_bfs_all(
        _edge_df(spark, G2), [1, 5], stats=stats
    ).collect()
    max_depth = max(r.level for r in rows)
    assert max_depth == 4  # seed 1: 1→2/3→4→5→6 (6 at level 4)
    assert stats["rounds"] == max_depth + 1
    # per-seed distances preserved independently (4 is at level 2 from
    # seed 1 AND level 2 from seed 5 via 5→6→4 — both rows survive)
    got = {(r.seed, r.vid): r.level for r in rows}
    assert got[(1, 4)] == 2 and got[(5, 4)] == 2


def test_multi_source_bfs_rejects_empty(spark):
    import pytest as _pytest

    from distributed_graph_database_system_spark.operators.graph import (
        multi_source_bfs,
    )

    with _pytest.raises(ValueError):
        multi_source_bfs(_edge_df(spark, [(1, 2)]), [])


# --- temporal (time-respecting) BFS -----------------------------------------


def test_temporal_bfs_respects_time_ordering(spark):
    from datetime import datetime as dt

    from distributed_graph_database_system_spark.operators.graph import temporal_bfs

    T = lambda d: dt(2024, 1, d)  # noqa: E731
    # 1-(t3)->2-(t1)->3 is INVALID (t1 < arrival t3); 1-(t2)->4-(t5)->3 works
    edges = [(1, 2, T(3)), (2, 3, T(1)), (1, 4, T(2)), (4, 3, T(5))]
    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT, ts TIMESTAMP")
    got = {(r.vid, r.arrival) for r in temporal_bfs(df, 1).collect()}
    assert got == {(1, None), (2, T(3)), (3, T(5)), (4, T(2))}

    # equality counts: an edge departing exactly at the arrival time is legal
    eq = [(1, 2, T(4)), (2, 3, T(4))]
    got2 = {
        (r.vid, r.arrival)
        for r in temporal_bfs(
            spark.createDataFrame(eq, "src BIGINT, dst BIGINT, ts TIMESTAMP"), 1
        ).collect()
    }
    assert got2 == {(1, None), (2, T(4)), (3, T(4))}

    # label correction: a later-found EARLIER arrival must replace the first
    lc = [(1, 2, T(9)), (2, 3, T(10)), (1, 4, T(1)), (4, 3, T(2))]
    got3 = {
        (r.vid, r.arrival)
        for r in temporal_bfs(
            spark.createDataFrame(lc, "src BIGINT, dst BIGINT, ts TIMESTAMP"), 1
        ).collect()
    }
    assert got3 == {(1, None), (2, T(9)), (4, T(1)), (3, T(2))}


def test_longest_path_dag_golden_and_cycle_guard(spark):
    from distributed_graph_database_system_spark.operators.graph import (
        longest_path_dag,
    )
    from distributed_graph_database_system_spark.queries.graph import G7_DAG

    wedges = [(s, d, float(s + d)) for s, d in G7_DAG]
    got = {
        (r.vid, r.dist)
        for r in longest_path_dag(
            spark.createDataFrame(wedges, "src BIGINT, dst BIGINT, weight DOUBLE")
        ).collect()
    }
    assert got == {
        (1, 0.0), (7, 0.0), (2, 3.0), (3, 10.0), (4, 17.0), (6, 19.0), (5, 30.0)
    }

    # a SOURCELESS pure cycle has no starting label: empty result (its
    # vertices are unreachable from any source), documented semantics
    cyc = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0)], "src BIGINT, dst BIGINT, weight DOUBLE"
    )
    assert longest_path_dag(cyc, max_iter=20).isEmpty()
    # a cycle REACHABLE from a source makes labels grow forever → raise
    reach_cyc = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 1, 1.0)],
        "src BIGINT, dst BIGINT, weight DOUBLE",
    )
    with pytest.raises(RuntimeError, match="cycle"):
        longest_path_dag(reach_cyc, max_iter=20)


def py_longest_path_dag(rows):
    """Longest source→v path weights by one pass in topological order."""
    verts = {v for s, d, _ in rows for v in (s, d)}
    indeg = {v: 0 for v in verts}
    out = {}
    for s, d, w in rows:
        indeg[d] += 1
        out.setdefault(s, []).append((d, w))
    dist = {v: 0.0 for v in verts if indeg[v] == 0}
    ready = sorted(dist)
    while ready:
        u = ready.pop()
        for v, w in out.get(u, ()):
            dist[v] = max(dist.get(v, float("-inf")), dist[u] + w)
            indeg[v] -= 1
            if indeg[v] == 0:
                ready.append(v)
    return dist


def test_longest_path_dag_matches_topological_reference(spark):
    """Random DAGs (edges only from lower to higher id, so acyclic) with
    several sources, duplicate edges and zero weights: every distance
    equals the topological-order reference exactly."""
    from distributed_graph_database_system_spark.operators.graph import (
        longest_path_dag,
    )

    rng = random.Random(9)
    for n in (14, 22):
        rows = [
            (i, j, rng.choice([0.0, 0.0, round(rng.uniform(0, 9), 3)]))
            for i in range(1, n + 1)
            for j in range(i + 1, n + 1)
            if rng.random() < 0.18
        ]
        rows += rng.sample(rows, 4)  # duplicate edges
        sources = {s for s, _, _ in rows} - {d for _, d, _ in rows}
        assert len(sources) >= 2
        want = py_longest_path_dag(rows)
        got = {
            r.vid: r.dist
            for r in longest_path_dag(
                spark.createDataFrame(
                    rows, "src BIGINT, dst BIGINT, weight DOUBLE"
                )
            ).collect()
        }
        assert got == want


def test_shortest_path_reconstruction(spark):
    from distributed_graph_database_system_spark.operators.graph import (
        shortest_path,
    )
    from distributed_graph_database_system_spark.queries.graph import G2, G4

    got = [
        (r.step, r.vid)
        for r in shortest_path(_edge_df(spark, G2), 1, 6)
        .orderBy("step")
        .collect()
    ]
    assert got == [(0, 1), (1, 2), (2, 4), (3, 5), (4, 6)]  # min-pred tie

    # unreachable (G4: 1's component never reaches 4's): empty, not error
    assert shortest_path(_edge_df(spark, G4), 1, 6).isEmpty()

    # degenerate start == end: the single-vertex path
    triv = [
        (r.step, r.vid)
        for r in shortest_path(_edge_df(spark, G2), 3, 3).collect()
    ]
    assert triv == [(0, 3)]

    # regression: target found on the LAST allowed iteration must succeed
    # (the old for/else raised even though `found` was set)
    chain = spark.createDataFrame(
        [(1, 2), (2, 3)], "src BIGINT, dst BIGINT"
    )
    last = [
        (r.step, r.vid)
        for r in shortest_path(chain, 1, 3, max_iter=2).orderBy("step").collect()
    ]
    assert last == [(0, 1), (1, 2), (2, 3)]
    with pytest.raises(RuntimeError, match="did not reach"):
        shortest_path(chain, 1, 3, max_iter=1)


def test_bucketed_graphstore_survives_sessions_via_metastore(tmp_path):
    """The GraphStore docstring's cluster story, actually exercised: with
    a shared (embedded-Derby Hive) metastore instead of the in-memory
    catalog, the bucket spec survives the session boundary — a SECOND
    session sees the catalog entry, reads identical rows, and plans the
    src-keyed self-join with zero Exchange nodes. Runs in a subprocess
    because catalogImplementation is a static conf fixed at the shared
    test session's creation."""
    import subprocess
    import sys

    script = os.path.join(os.path.dirname(__file__), "xsession_graph_script.py")
    proc = subprocess.run(
        [sys.executable, script, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=540,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    assert "XSESSION_OK" in proc.stdout


def test_scc_multi_pivot_resolves_chain_in_sublinear_rounds(spark):
    """The adversarial shape for single-pivot coloring: a chain of 48
    triangle SCCs with ids arranged so the raw-max-id coloring paints the
    WHOLE chain one color every round (global max most-upstream) — one
    SCC per round, 48 outer rounds. Salted multi-pivot priorities must
    split the chain and resolve it in far fewer rounds, with the output
    still exactly Tarjan's components."""
    from distributed_graph_database_system_spark.operators.graph import (
        strongly_connected_components,
    )

    k = 48
    edges = []
    # SCC i (i=0 upstream) owns ids {base, base+1, base+2} with base
    # DECREASING downstream, so max id lives in the most-upstream SCC
    # and the old deterministic coloring collapses to one class.
    def base(i):
        return (k - i) * 10

    for i in range(k):
        b = base(i)
        edges += [(b, b + 1), (b + 1, b + 2), (b + 2, b)]  # triangle
        if i + 1 < k:
            edges.append((b, base(i + 1)))  # chain link downstream
    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    stats = {}
    out = strongly_connected_components(df, stats=stats)
    got = {}
    for r in out.collect():
        got.setdefault(r.scc, set()).add(r.vid)
    want = {
        min(base(i), base(i) + 1, base(i) + 2): {base(i), base(i) + 1, base(i) + 2}
        for i in range(k)
    }
    assert got == want
    # single-pivot would need k rounds (one SCC per round); multi-pivot
    # splits at every per-round prefix maximum — expect O(log k)-ish.
    assert stats["outer_rounds"] <= k // 3, stats


def test_mis_properties_on_cosupply(spark, sf_dir):
    """Independence + maximality of the Luby MIS on the part co-supply
    graph (parts adjacent when they share a supplier), plus determinism
    under adversarial partitioning."""
    from pyspark.sql import functions as F

    from distributed_graph_database_system_spark.operators.graph import (
        maximal_independent_set,
    )
    from distributed_graph_database_system_spark.sources.catalog import load_table

    ps = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    ).distinct()
    a = ps.select(F.col("l_partkey").alias("src"), "l_suppkey")
    b = ps.select(F.col("l_partkey").alias("dst"), "l_suppkey")
    edges = (
        a.join(b, "l_suppkey")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    mis = {r["vid"] for r in maximal_independent_set(edges).collect()}
    adj: dict[int, set[int]] = {}
    for r in edges.collect():
        adj.setdefault(r["src"], set()).add(r["dst"])
        adj.setdefault(r["dst"], set()).add(r["src"])
    assert mis, "MIS empty on a non-empty graph"
    assert all(not (adj.get(v, set()) & mis) for v in mis), "not independent"
    assert all(v in mis or (adj[v] & mis) for v in adj), "not maximal"

    mis2 = {
        r["vid"]
        for r in maximal_independent_set(
            edges.repartition(17, F.rand(seed=3))
        ).collect()
    }
    assert mis == mis2, "MIS varies with input partitioning"


def test_msf_kruskal_parity_on_copurchase(spark, sf_dir):
    """Borůvka forest == Kruskal forest on the co-purchase graph with
    unique per-edge weights (unique weights => the MSF is unique), plus
    partition invariance."""
    from pyspark.sql import functions as F

    from distributed_graph_database_system_spark.operators.graph import (
        minimum_spanning_forest,
    )
    from distributed_graph_database_system_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window as W

    nxt = F.lead("l_partkey").over(
        W.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    )
    ed = (
        li.select(F.col("l_partkey").alias("src"), nxt.alias("dst"))
        .where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
        .withColumn("w", (F.col("src") * 10000 + F.col("dst")).cast("double"))
    )
    msf = sorted(tuple(r) for r in minimum_spanning_forest(ed).collect())

    rows = [(r["src"], r["dst"], r["w"]) for r in ed.collect()]
    verts = {v for a, b, _ in rows for v in (a, b)}
    parent = {v: v for v in verts}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    ref = []
    for a, b, w in sorted(rows, key=lambda t: (t[2], t[0], t[1])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            ref.append((a, b, w))
    assert sorted(ref) == msf

    msf2 = sorted(
        tuple(r)
        for r in minimum_spanning_forest(ed.repartition(17, F.rand(seed=11))).collect()
    )
    assert msf == msf2


def test_coreness_consistent_with_kcore_and_reference(spark, sf_dir):
    """coreness ≥ k  ⇔  membership in k_core(k), for every k present; and
    the whole decomposition matches a single-process peeling reference on
    the co-purchase graph."""
    from pyspark.sql import functions as F, Window as W

    from distributed_graph_database_system_spark.operators.graph import (
        core_decomposition,
        k_core,
    )
    from distributed_graph_database_system_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    nxt = F.lead("l_partkey").over(
        W.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    )
    ed = (
        li.select(F.col("l_partkey").alias("src"), nxt.alias("dst"))
        .where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .distinct()
    )
    got = {r["vid"]: r["coreness"] for r in core_decomposition(ed).collect()}

    # reference: sequential min-degree peeling
    adj: dict[int, set[int]] = {}
    for r in ed.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct().collect():
        adj.setdefault(r["a"], set()).add(r["b"])
        adj.setdefault(r["b"], set()).add(r["a"])
    deg = {v: len(ns) for v, ns in adj.items()}
    ref: dict[int, int] = {}
    live = dict(deg)
    k = 1
    while live:
        while True:
            fall = [v for v, d in live.items() if d < k]
            if not fall:
                break
            for v in fall:
                ref[v] = k - 1
                del live[v]
                for w in adj[v]:
                    if w in live:
                        live[w] -= 1
        k += 1
    assert got == ref

    # cross-check against the independent k_core operator at k = 3
    core3 = {r["vid"] for r in k_core(ed, k=3).collect()}
    assert core3 == {v for v, c in got.items() if c >= 3}


def test_coreness_of_edgeless_graph_is_empty(spark):
    """No edge, or self-loops only: no vertex is incident to an edge, so
    the decomposition is empty, as ``k_core``'s is."""
    from distributed_graph_database_system_spark.operators.graph import (
        core_decomposition,
    )

    for rows in ([], [(3, 3), (5, 5)]):
        assert core_decomposition(edges_df(spark, rows)).collect() == []


def _py_k_truss(pairs: list[tuple[int, int]], k: int) -> dict[tuple[int, int], int]:
    """Reference k-truss by literal peeling over canonical edge sets."""
    edges = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    while True:
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {(a, b): len(adj[a] & adj[b]) for a, b in edges}
        weak = {e for e, s in sup.items() if s < k - 2}
        if not weak:
            return sup
        edges -= weak
        if not edges:
            return {}


def test_ktruss_matches_bruteforce(spark, sf_dir):
    """k-truss edge set vs a single-process peeling reference on the
    co-purchase graph, k = 3 and 4."""
    from pyspark.sql import functions as F, Window as W

    from distributed_graph_database_system_spark.operators.graph import k_truss
    from distributed_graph_database_system_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    nxt = F.lead("l_partkey").over(
        W.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    )
    ed = (
        li.select(F.col("l_partkey").alias("src"), nxt.alias("dst"))
        .where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .distinct()
    )
    base = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"])) for r in ed.collect()
    }

    for k in (3, 4):
        got = {(r["a"], r["b"]): r["support"] for r in k_truss(ed, k=k).collect()}
        assert got == _py_k_truss(base, k), f"k={k} mismatch"


def test_diameter_double_sweep_brute_force_parity(spark):
    """The double-sweep bound is (a) ≤ the true diameter, (b) an actual
    eccentricity (witnessed by the returned pair), and (c) equal to the
    true diameter on trees (where double sweep is provably exact). Checked
    against an all-pairs python BFS on a deterministic random graph and a
    deterministic random tree."""
    import collections
    import random

    from distributed_graph_database_system_spark.operators.graph import (
        EDGE_SCHEMA,
        diameter_double_sweep,
    )

    def py_bfs(adj, s):
        dist = {s: 0}
        dq = collections.deque([s])
        while dq:
            v = dq.popleft()
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    dq.append(w)
        return dist

    rng = random.Random(7)
    # connected random graph: spanning chain + extra chords
    n = 40
    edges = [(i, i + 1) for i in range(1, n)]
    edges += [
        (rng.randint(1, n), rng.randint(1, n)) for _ in range(25)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    comp = py_bfs(adj, 1)
    true_diam = max(
        max(py_bfs(adj, s).values()) for s in comp
    )
    row = diameter_double_sweep(
        spark.createDataFrame(edges, EDGE_SCHEMA)
    ).first()
    assert row.start_vid == 1
    assert row.diameter_lb <= true_diam
    d2 = py_bfs(adj, row.peripheral_vid)
    assert d2[row.antipode_vid] == row.diameter_lb  # witnessed distance
    assert row.diameter_lb == max(d2.values())  # IS u's eccentricity

    # random tree: double sweep is exact
    tree = [(i, rng.randint(1, i - 1)) for i in range(2, 60)]
    tadj = collections.defaultdict(set)
    for a, b in tree:
        tadj[a].add(b)
        tadj[b].add(a)
    t_diam = max(max(py_bfs(tadj, s).values()) for s in tadj)
    trow = diameter_double_sweep(
        spark.createDataFrame(tree, EDGE_SCHEMA)
    ).first()
    assert trow.diameter_lb == t_diam


def test_betweenness_matches_python_brandes(spark):
    """Distributed level-synchronous Brandes equals an independent python
    Brandes (Fraction-exact) on a deterministic random connected graph,
    undirected and directed, within the decimal(28,12) rounding the
    operator documents."""
    import collections
    import random
    from fractions import Fraction

    from distributed_graph_database_system_spark.operators.graph import (
        EDGE_SCHEMA,
        betweenness_centrality,
    )

    def brandes(adj, nodes, halve):
        bc = {v: Fraction(0) for v in nodes}
        for s in nodes:
            dist = {s: 0}
            sigma = {v: Fraction(0) for v in nodes}
            sigma[s] = Fraction(1)
            order = [s]
            preds = collections.defaultdict(list)
            dq = collections.deque([s])
            while dq:
                v = dq.popleft()
                for w in adj[v]:
                    if w not in dist:
                        dist[w] = dist[v] + 1
                        dq.append(w)
                        order.append(w)
                    if dist[w] == dist[v] + 1:
                        sigma[w] += sigma[v]
                        preds[w].append(v)
            delta = {v: Fraction(0) for v in nodes}
            for w in reversed(order):
                for v in preds[w]:
                    delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
                if w != s:
                    bc[w] += delta[w]
        return {v: float(x / (2 if halve else 1)) for v, x in bc.items()}

    rng = random.Random(11)
    n = 18
    edges = [(i, i + 1) for i in range(1, n)] + [
        (rng.randint(1, n), rng.randint(1, n)) for _ in range(14)
    ]
    edges = sorted({(a, b) for a, b in edges if a != b})
    df = spark.createDataFrame(edges, EDGE_SCHEMA)

    # undirected
    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = brandes(adj, sorted(adj), halve=True)
    got = {r.vid: r.bc for r in betweenness_centrality(df).collect()}
    assert got.keys() == want.keys()
    for v in want:
        # decimal(28,12) per-edge share rounding compounds through the
        # backward recursion: ~1e-6 absolute on depth-20 graphs
        assert abs(got[v] - want[v]) < 1e-4, (v, got[v], want[v])

    # directed (no halving; reachability-limited sweeps)
    dadj = collections.defaultdict(set)
    for a, b in edges:
        dadj[a].add(b)
    for v in list(adj):
        dadj.setdefault(v, set())
    want_d = brandes(dadj, sorted(adj), halve=False)
    got_d = {
        r.vid: r.bc
        for r in betweenness_centrality(df, directed=True).collect()
    }
    for v in want_d:
        assert abs(got_d[v] - want_d[v]) < 1e-4, (v, got_d[v], want_d[v])


def test_modularity_matches_python_reference(spark):
    """Q = (4m·Σe_c − Σd_c²)/(4m²) vs the textbook per-community sum on a
    deterministic random graph with random labels, plus the singleton
    convention for unlabeled vertices and the empty-graph zero."""
    import collections
    import random

    from distributed_graph_database_system_spark.operators.graph import (
        EDGE_SCHEMA,
        modularity,
    )

    rng = random.Random(23)
    edges = sorted(
        {
            (a, b)
            for a, b in (
                (rng.randint(1, 30), rng.randint(1, 30)) for _ in range(80)
            )
            if a != b
        }
    )
    und = {(min(a, b), max(a, b)) for a, b in edges}
    verts = sorted({v for e in und for v in e})
    labels = {v: rng.randint(1, 4) for v in verts if v % 5 != 0}  # some miss
    m = len(und)
    deg = collections.Counter()
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    eff = {v: labels.get(v, ("s", v)) for v in verts}
    within = collections.Counter()
    for a, b in und:
        if eff[a] == eff[b]:
            within[eff[a]] += 1
    dc = collections.Counter()
    for v in verts:
        dc[eff[v]] += deg[v]
    want = sum(
        within.get(c, 0) / m - (dc[c] / (2 * m)) ** 2 for c in dc
    )
    df = spark.createDataFrame([(a, b) for a, b in edges], EDGE_SCHEMA)
    lab = spark.createDataFrame(
        [(v, l) for v, l in labels.items()], "vid BIGINT, label BIGINT"
    )
    row = modularity(df, lab).first()
    assert row.n_communities == len(dc)
    assert abs(row.q - want) < 1e-6
    empty = modularity(
        spark.createDataFrame([], EDGE_SCHEMA), lab
    ).first()
    assert empty.q == 0.0


def test_betweenness_sampled_extrapolates_to_exact_on_cycle(spark):
    """On a vertex-transitive graph every source's dependency vector is a
    rotation of the same one, so each source contributes the SAME total
    mass — the |V|/|sources| extrapolation therefore reproduces the exact
    TOTAL betweenness from any source subset (per-vertex values remain
    estimates, since a subset's offsets need not tile the cycle)."""
    from distributed_graph_database_system_spark.operators.graph import (
        EDGE_SCHEMA,
        betweenness_centrality,
    )

    n = 9
    cycle = [(i, i % n + 1) for i in range(1, n + 1)]
    df = spark.createDataFrame(cycle, EDGE_SCHEMA)
    exact = {r.vid: r.bc for r in betweenness_centrality(df).collect()}
    sampled = {
        r.vid: r.bc
        for r in betweenness_centrality(df, sources=[1, 4, 7]).collect()
    }
    assert set(exact.values()) == {exact[1]} and exact[1] > 0
    assert abs(sum(sampled.values()) - sum(exact.values())) < 1e-6
    # and with ALL sources passed explicitly, factor is 1: exact values
    full = {
        r.vid: r.bc
        for r in betweenness_centrality(
            df, sources=list(range(1, 10))
        ).collect()
    }
    assert full == exact


def test_betweenness_max_sources_guard(spark):
    """Exact mode (sources=None) collects every vertex id and loops one
    sweep per source — the guard must refuse before collecting anything
    data-sized, in BOTH spellings (implicit exact mode and an oversized
    explicit landmark list), and an explicit raise must still work."""
    import pytest as _pytest

    from distributed_graph_database_system_spark.operators.graph import (
        EDGE_SCHEMA,
        betweenness_centrality,
    )

    path = [(i, i + 1) for i in range(1, 7)]  # 7 vertices
    df = spark.createDataFrame(path, EDGE_SCHEMA)
    with _pytest.raises(ValueError, match="max_sources"):
        betweenness_centrality(df, max_sources=3)
    with _pytest.raises(ValueError, match="max_sources"):
        betweenness_centrality(df, sources=[1, 2, 3, 4], max_sources=3)
    # raising the cap explicitly re-enables the verification run
    got = betweenness_centrality(df, max_sources=7)
    assert got.count() == 7


def test_greedy_coloring_is_proper_and_total(spark):
    """Iterated-MIS coloring on a deterministic random graph: every
    vertex colored exactly once, no edge monochromatic, color count at
    least the clique number witnessed by any triangle, and the empty
    graph / isolated-vertices edge cases hold."""
    import random

    from distributed_graph_database_system_spark.operators.graph import (
        EDGE_SCHEMA,
        greedy_coloring,
        maximal_independent_set,
    )

    rng = random.Random(31)
    edges = sorted(
        {
            (a, b)
            for a, b in (
                (rng.randint(1, 40), rng.randint(1, 40)) for _ in range(120)
            )
            if a != b
        }
    )
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    col = {r.vid: r.color for r in greedy_coloring(df).collect()}
    verts = {v for e in edges for v in e}
    assert col.keys() == verts
    for a, b in edges:
        assert col[a] != col[b], f"edge ({a},{b}) monochromatic"
    # triangle forces >= 3 colors
    nbr = {}
    for a, b in edges:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    has_tri = any(
        c in nbr.get(b, ()) and c != a
        for a in nbr
        for b in nbr[a]
        for c in nbr[a]
    )
    if has_tri:
        assert len(set(col.values())) >= 3

    # empty graph: empty result, and empty-graph MIS no longer crashes
    assert greedy_coloring(spark.createDataFrame([], EDGE_SCHEMA)).count() == 0
    assert (
        maximal_independent_set(spark.createDataFrame([], EDGE_SCHEMA)).count()
        == 0
    )
    # pure self-loop graph: vertices isolated after stripping → one class
    loops = spark.createDataFrame([(7, 7), (9, 9)], EDGE_SCHEMA)
    got = {(r.vid, r.color) for r in greedy_coloring(loops).collect()}
    assert got == {(7, 0), (9, 0)}


def test_hits_matches_numpy_power_iteration(spark):
    """The fixed-point-decimal HITS agrees with a float64 numpy power
    iteration (same L1 normalization, same iteration count) to well
    inside the decimal rounding, on G2 and on a random digraph."""
    import random

    import numpy as np

    from distributed_graph_database_system_spark.operators.graph import (
        EDGE_SCHEMA,
        hits,
    )

    def np_hits(edges, iters=8):
        vs = sorted({v for e in edges for v in e})
        ix = {v: i for i, v in enumerate(vs)}
        A = np.zeros((len(vs), len(vs)))
        for s, d in edges:
            if s != d:
                A[ix[s], ix[d]] = 1.0
        h = np.full(len(vs), 1.0 / len(vs))
        a = h.copy()
        for _ in range(iters):
            a = A.T @ h
            a = a / a.sum() if a.sum() else a
            h = A @ a
            h = h / h.sum() if h.sum() else h
        return {v: (h[ix[v]], a[ix[v]]) for v in vs}

    rng = random.Random(13)
    graphs = [
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (5, 6), (6, 4)],
        sorted(
            {
                (rng.randint(1, 15), rng.randint(1, 15))
                for _ in range(40)
            }
        ),
    ]
    for edges in graphs:
        edges = [(a, b) for a, b in edges if a != b]
        want = np_hits(edges)
        got = {
            r.vid: (r.hub, r.authority)
            for r in hits(spark.createDataFrame(edges, EDGE_SCHEMA)).collect()
        }
        assert got.keys() == want.keys()
        for v, (wh, wa) in want.items():
            assert abs(got[v][0] - wh) < 1e-5, (v, got[v], wh)
            assert abs(got[v][1] - wa) < 1e-5, (v, got[v], wa)


def test_greedy_coloring_completes_in_exactly_max_colors(spark):
    """A triangle needs exactly 3 colors and iterated MIS colors one
    vertex per round; max_colors=3 must SUCCEED (the completion check
    runs after the round's removal, not only at the top of the next
    iteration — previously this raised a spurious 'exceeded' error)."""
    from distributed_graph_database_system_spark.operators.graph import (
        EDGE_SCHEMA,
        greedy_coloring,
    )

    tri = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], EDGE_SCHEMA)
    col = {r.vid: r.color for r in greedy_coloring(tri, max_colors=3).collect()}
    assert col.keys() == {1, 2, 3}
    assert len(set(col.values())) == 3


def test_hits_all_self_loops_returns_zero_scores(spark):
    """When every edge is a self-loop the stripped edge set is empty;
    the documented convention is 0/0 scores (previously NULL via
    aggregate-of-empty totals dividing the normalization)."""
    from distributed_graph_database_system_spark.operators.graph import (
        EDGE_SCHEMA,
        hits,
    )

    loops = spark.createDataFrame([(1, 1), (2, 2)], EDGE_SCHEMA)
    got = {r.vid: (r.hub, r.authority) for r in hits(loops).collect()}
    assert got == {1: (0.0, 0.0), 2: (0.0, 0.0)}


def test_modularity_counts_self_loop_only_vertices(spark):
    """A vertex whose only incident edge is a self-loop has degree 0
    after the strip but still belongs to the community census: as a
    singleton when unlabeled, under its label when labeled. Its degree
    term is 0 so q itself is unchanged."""
    from distributed_graph_database_system_spark.operators.graph import (
        EDGE_SCHEMA,
        modularity,
    )

    edges = spark.createDataFrame([(1, 2), (3, 3)], EDGE_SCHEMA)
    lab_partial = spark.createDataFrame([(1, 10), (2, 10)], "vid BIGINT, label BIGINT")
    r = modularity(edges, lab_partial).first()
    # community {1,2} plus the unlabeled singleton {3}
    assert r["n_communities"] == 2
    assert r["within_edges"] == 1
    assert r["q"] == 0.0  # (4*1*1 - 2^2) / 4

    lab_full = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10)], "vid BIGINT, label BIGINT"
    )
    r2 = modularity(edges, lab_full).first()
    assert r2["n_communities"] == 1
    assert r2["within_edges"] == 1
    assert r2["q"] == 0.0


def test_modularity_all_self_loops_still_censuses_vertices(spark):
    """m == 0 (every edge a self-loop) must still report the community
    census of the raw-edge vertex universe — the convention the non-empty
    path follows — with within_edges = 0 and q = 0."""
    from distributed_graph_database_system_spark.operators.graph import (
        EDGE_SCHEMA,
        modularity,
    )

    edges = spark.createDataFrame([(3, 3), (4, 4)], EDGE_SCHEMA)
    r = modularity(
        edges, spark.createDataFrame([(3, 10)], "vid BIGINT, label BIGINT")
    ).first()
    assert (r["n_communities"], r["within_edges"], r["q"]) == (2, 0, 0.0)


def test_articulation_points_path_graph(spark):
    """On a path 1—2—3—4 every internal vertex is an articulation point
    and the endpoints are not."""
    from distributed_graph_database_system_spark.operators.graph import (
        articulation_points,
    )
    from distributed_graph_database_system_spark.queries.graph import G3

    sym = G3 + [(b, a) for a, b in G3]
    edges = spark.createDataFrame(sym, "src BIGINT, dst BIGINT")
    rows = {
        r["vid"]: r["is_articulation"]
        for r in articulation_points(edges).collect()
    }
    assert rows == {1: 0, 2: 1, 3: 1, 4: 0}


def test_articulation_points_g6_matches_reference(spark):
    """G6's cut vertices are exactly {4, 5, 8}: clique→bridge→cycle→
    pendant. Cross-checked against a brute-force networkx-free python
    reference (BFS per removed vertex)."""
    from distributed_graph_database_system_spark.operators.graph import (
        articulation_points,
    )
    from distributed_graph_database_system_spark.queries.graph import G6

    sym = G6 + [(b, a) for a, b in G6]

    def py_reference() -> set[int]:
        from collections import deque

        adj: dict[int, set[int]] = {}
        for a, b in sym:
            adj.setdefault(a, set()).add(b)
        verts = sorted(adj)
        out = set()
        for x in verts:
            rest = [v for v in verts if v != x]
            seen = {rest[0]}
            dq = deque([rest[0]])
            while dq:
                v = dq.popleft()
                for w in adj[v]:
                    if w != x and w not in seen:
                        seen.add(w)
                        dq.append(w)
            if len(seen) < len(verts) - 1:
                out.add(x)
        return out

    edges = spark.createDataFrame(sym, "src BIGINT, dst BIGINT")
    got = {
        r["vid"]
        for r in articulation_points(edges).collect()
        if r["is_articulation"] == 1
    }
    assert got == py_reference() == {4, 5, 8}


def test_articulation_candidates_subset_and_guard(spark):
    from distributed_graph_database_system_spark.operators.graph import (
        articulation_points,
        excluded_vertex_reach,
    )
    from distributed_graph_database_system_spark.queries.graph import G6

    sym = G6 + [(b, a) for a, b in G6]
    edges = spark.createDataFrame(sym, "src BIGINT, dst BIGINT")
    sub = articulation_points(edges, candidates=[4, 6]).collect()
    assert {r["vid"]: r["is_articulation"] for r in sub} == {4: 1, 6: 0}
    with pytest.raises(ValueError, match="max_candidates"):
        excluded_vertex_reach(edges, max_candidates=3)


def test_bridges_path_and_g6(spark):
    """Every edge of a path is a bridge; in G6 only the clique→cycle
    link 4—5 and the pendant edge 8—10 are."""
    from distributed_graph_database_system_spark.operators.graph import bridges
    from distributed_graph_database_system_spark.queries.graph import G3, G6

    path = spark.createDataFrame(
        G3 + [(b, a) for a, b in G3], "src BIGINT, dst BIGINT"
    )
    got = {
        (r["src"], r["dst"]) for r in bridges(path).collect()
        if r["is_bridge"] == 1
    }
    assert got == {(1, 2), (2, 3), (3, 4)}

    g6 = spark.createDataFrame(
        G6 + [(b, a) for a, b in G6], "src BIGINT, dst BIGINT"
    )
    got6 = {
        (r["src"], r["dst"]) for r in bridges(g6).collect()
        if r["is_bridge"] == 1
    }
    assert got6 == {(4, 5), (8, 10)}


def test_assert_connected_guard_on_cut_operators(spark):
    """The assert_connected flag (ADVICE r11): on a connected graph both
    operators run unchanged; on a two-component graph the flag raises
    instead of vacuously flagging every candidate as a cut."""
    from distributed_graph_database_system_spark.operators.graph import (
        articulation_points,
        bridges,
    )
    from distributed_graph_database_system_spark.queries.graph import G3

    path = spark.createDataFrame(
        G3 + [(b, a) for a, b in G3], "src BIGINT, dst BIGINT"
    )
    ok = articulation_points(path, assert_connected=True).collect()
    assert {r["vid"]: r["is_articulation"] for r in ok} == {
        1: 0, 2: 1, 3: 1, 4: 0,
    }

    two = spark.createDataFrame(
        [(1, 2), (2, 1), (10, 11), (11, 10)], "src BIGINT, dst BIGINT"
    )
    with pytest.raises(ValueError, match="disconnected"):
        articulation_points(two, assert_connected=True)
    with pytest.raises(ValueError, match="disconnected"):
        bridges(two, assert_connected=True)
    # without the flag the documented contract stands: every candidate
    # on a disconnected input reads as a cut (the advisory's observation)
    noguard = bridges(two).collect()
    assert all(r["is_bridge"] == 1 for r in noguard)


def test_g8_goldens_match_python_references(spark):
    """The G8 grid-with-chord VALUES goldens (queries/seeds_r13a.py) are
    pinned from independent pure-python BFS/DFS references — re-derive
    both here so a fixture edit that silently shifts a level or a leaf
    fails this test before the driver sees a hash mismatch."""
    from collections import deque

    from distributed_graph_database_system_spark.operators.graph import (
        bfs,
        dfs_leaves,
    )
    from distributed_graph_database_system_spark.queries.seeds_r13a import (
        G8,
        _g8_edges,
    )

    adj: dict[int, list[int]] = {}
    for a, b in G8:
        adj.setdefault(a, []).append(b)
    for v in adj:
        adj[v].sort()

    lvl = {1: 0}
    dq = deque([1])
    while dq:
        v = dq.popleft()
        for w in adj.get(v, []):
            if w not in lvl:
                lvl[w] = lvl[v] + 1
                dq.append(w)

    visited = {1}
    leaves: list[int] = []

    def dfs(v: int) -> None:
        spawned = 0
        for w in adj.get(v, []):
            if w not in visited:
                visited.add(w)
                spawned += 1
                dfs(w)
        if spawned == 0 and v != 1:
            leaves.append(v)

    dfs(1)

    edges = _g8_edges(spark)
    got_bfs = {(r["vid"], r["level"]) for r in bfs(edges, start=1).collect()}
    assert got_bfs == set(lvl.items())
    got_leaves = [r["vid"] for r in dfs_leaves(edges, start=1).collect()]
    assert got_leaves == sorted(leaves) == [13, 14, 15, 16]


def test_k_truss_g6_and_triangle_free(spark):
    """G6's 3-truss (and 4-truss) is exactly the K4 clique, every edge at
    support 2; the 5-truss peels everything; a path graph has no
    triangles, so its 3-truss is empty. Cross-checked against the literal
    python peeler (the co-purchase brute-force test covers fixture-scale
    graphs; these pin the hand-auditable goldens)."""
    from distributed_graph_database_system_spark.operators.graph import k_truss
    from distributed_graph_database_system_spark.queries.graph import G3, G6

    sym6 = G6 + [(b, a) for a, b in G6]
    e6 = spark.createDataFrame(sym6, "src BIGINT, dst BIGINT")
    for k in (3, 4):
        got = {
            (r["a"], r["b"]): r["support"]
            for r in k_truss(e6, k=k).collect()
        }
        assert got == _py_k_truss(sym6, k)
        assert got == {
            (a, b): 2 for a in range(1, 5) for b in range(1, 5) if a < b
        }
    assert k_truss(e6, k=5).count() == 0 == len(_py_k_truss(sym6, 5))

    path = spark.createDataFrame(
        G3 + [(b, a) for a, b in G3], "src BIGINT, dst BIGINT"
    )
    assert k_truss(path, k=3).count() == 0


def test_k_truss_peeling_cascades(spark):
    """A triangle FAN (center 0 joined to a path 1-2-3-4) where dropping
    the weakest edges must CASCADE across rounds (the fan's end triangles
    prop up the middle ones): the python peeler is the ground truth for
    the fixpoint at k = 3 and 4."""
    from distributed_graph_database_system_spark.operators.graph import k_truss

    fan = [(0, i) for i in range(1, 5)] + [(1, 2), (2, 3), (3, 4)]
    sym = fan + [(b, a) for a, b in fan]
    e = spark.createDataFrame(sym, "src BIGINT, dst BIGINT")
    for k in (3, 4):
        got = {
            (r["a"], r["b"]): r["support"]
            for r in k_truss(e, k=k).collect()
        }
        assert got == _py_k_truss(sym, k)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be >= 2"):
        k_truss(e, k=1)


def test_assert_connected_requires_symmetric_edges(spark):
    """Round-14 hardening (ADVICE r13): articulation_points/bridges
    traverse raw src→dst rows, so on single-direction input a merely
    symmetrized-for-the-BFS guard would pass and the algorithms would
    then emit garbage verdicts (every candidate flagged). The guard now
    enforces the algorithms' ACTUAL precondition — the edge set must be
    symmetric — and raises loudly telling the caller to symmetrize."""
    from distributed_graph_database_system_spark.operators.graph import (
        _all_vertices,
        _assert_connected,
        articulation_points,
    )

    one_way = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3)], "src BIGINT, dst BIGINT"
    )
    verts = _all_vertices(one_way)
    with pytest.raises(ValueError, match="symmetrize"):
        _assert_connected(one_way, verts, verts.count(), "test")
    with pytest.raises(ValueError, match="symmetrize"):
        articulation_points(one_way, assert_connected=True)

    # the symmetric twin passes the guard and gives the real verdicts
    sym = one_way.union(
        one_way.selectExpr("dst AS src", "src AS dst")
    )
    got = {
        r["vid"]: r["is_articulation"]
        for r in articulation_points(sym, assert_connected=True).collect()
    }
    assert got == {1: 0, 2: 1, 3: 1, 4: 0}
