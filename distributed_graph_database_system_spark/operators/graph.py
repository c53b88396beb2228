"""Graph store + traversal operators — the reference's entire user surface.

Reference parity (see SURVEY.md §2.1):
- R1 AddGraph / R2 ModifyGraph  → ``GraphStore.add`` / ``GraphStore.modify``
  (reference: ``primaryServer.c:14-80``; overwrite semantics via
  ``fopen(...,"w")`` truncation at ``primaryServer.c:40-63``).
- R4 BFS                         → ``bfs`` (reference level-synchronous BFS,
  ``secondaryServer.c:111-179``; its per-level thread barrier maps 1:1 to one
  frontier round — not to one Spark job: a round runs the exchanges and
  broadcasts AQE submits as jobs of their own, the frontier's checkpoint
  and the ``take(1)`` stop probe, 4.3 jobs per round on average in a
  traced perfbench ``graph_ops`` run on 4 cores).
- R3 DFS leaf-set                → ``dfs_leaves`` (reference threaded DFS,
  ``secondaryServer.c:56-108``; a vertex is emitted iff it spawned zero
  recursive visits, start excluded per ``secondaryServer.c:290``).

Design for scale: graphs are edge-list DataFrames ``(src, dst)``. Traversals
are set-at-a-time frontier joins (one shuffle per level) with
``localCheckpoint()`` per iteration to truncate lineage — the plan stays
constant-size no matter how many iterations run, which is what keeps the loop
viable on a 1000-executor cluster. Loops are shared rather than copied:
the visit-once walkers (``bfs``, the multi-source BFS family, the what-if
reach of ``excluded_vertex_reach``/``bridges`` and SCC's backward walk) run
``_frontier_traversal``; fixpoint propagation (weighted SSSP,
``longest_path_dag``, SCC's coloring) runs ``pregel``, which sends only from
vertices that changed; ``pagerank`` and ``personalized_pagerank``
run ``_pagerank_iterations``. The undirected operators read one edge set,
``_undirected``, and whole-graph vertex sets come from ``_all_vertices``.
The per-vertex-thread model of the reference is replaced wholesale by
partition parallelism.

DFS order is inherently sequential, so ``dfs_leaves`` prunes distributively
(reachability = BFS) and runs the canonical ascending-neighbor DFS on the
driver over the *reachable* subgraph only — bounded work (the reference caps
graphs at 30 vertices, ``utils.h:26``; we guard with ``max_collect_edges``).

``MAX_COLLECT_EDGES`` is the one driver-collect cap: ``dfs_leaves``' default
guard, and the size rule of the ``api.Engine`` door, which runs
``driver_bfs`` / ``driver_dfs_leaves`` when the whole stored graph fits under
it and the distributed ``bfs`` / ``dfs_leaves`` otherwise. It also bounds
the edges of the adjacencies an ``Engine`` keeps between reads.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

EDGE_SCHEMA = "src BIGINT, dst BIGINT"

# Edges a driver-side traversal may collect (see the module docstring).
MAX_COLLECT_EDGES = 200_000


def _local_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: str
) -> DataFrame:
    """Driver-side ``rows`` as a JVM-local relation with DDL ``schema``.

    ``createDataFrame`` over a Python list builds a Python RDD (pickled
    rows through ``applySchemaToPythonRDD``), which every plan over it
    reads as a ``Scan ExistingRDD``. An Arrow table under
    ``spark.sql.execution.arrow.localRelationThreshold`` becomes a
    ``LocalRelation`` instead (``LocalTableScan`` in the plan): no job to
    build it, no lineage to checkpoint away. Every seed and small reply in
    this module is built here."""
    struct = StructType.fromDDL(schema)
    cols = list(zip(*rows)) if rows else [()] * len(struct.fields)
    return spark.createDataFrame(
        pa.table(dict(zip(struct.fieldNames(), cols))), struct
    )


# ---------------------------------------------------------------------------
# GraphStore — R1 AddGraph / R2 ModifyGraph
# ---------------------------------------------------------------------------


class GraphStore:
    """Named-graph persistence. The graph's *name is its identity*, matching
    the reference where the client-chosen file name is the catalog
    (``utils.h:35``); here the name is a parquet directory under ``root``.

    - ``add``    = ``mode("errorifexists")`` — re-adding an existing name
      fails, like creating a file that exists.
    - ``modify`` = ``mode("overwrite")`` — full replace, like the reference's
      ``fopen(...,"w")`` truncation (``primaryServer.c:40``). No merge/upsert.

    ``buckets=N`` switches the at-rest layout to a catalog-registered
    bucketed table (hash-bucketed AND sorted by ``src``, data files still
    under ``root``): every traversal or degree query joins/aggregates on
    ``src``, so paying the layout shuffle ONCE at write time makes each
    src-keyed sort-merge join exchange-free on the edge side afterwards
    (asserted in tests/test_graph.py). That is the cluster-scale story the
    BFS docstring promises — the 100 TB edge set never re-shuffles; only the
    (small) frontier moves. Plain parquet (buckets=None) remains the default
    for parity with the reference's single-file-per-graph model.

    Catalog caveat (inherent to Spark bucketing — the bucket spec lives in
    the catalog, NOT in the files): with the default in-memory catalog the
    registration dies with the session, so a LATER session sees only plain
    parquet — ``load`` then falls back to the path read (correct rows, no
    co-location) and bucketed ``add`` REFUSES a name whose directory exists
    without a catalog entry rather than letting CTAS half-adopt the
    location. On a cluster, back the session with a shared metastore
    (``enableHiveSupport``/catalog service) and the layout survives
    sessions.
    """

    def __init__(self, spark: SparkSession, root: str, buckets: int | None = None):
        self.spark = spark
        self.root = root
        self.buckets = buckets

    def path(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"invalid graph name {name!r}")
        return os.path.join(self.root, name)

    @staticmethod
    def _normalize(edges: DataFrame) -> DataFrame:
        return edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )

    def table_name(self, name: str) -> str:
        """Catalog identifier for a bucketed graph: sanitized name plus an
        md5 tag of (root, raw name) so distinct roots/punctuated names can't
        collide after sanitization."""
        import hashlib
        import re

        safe = re.sub(r"[^A-Za-z0-9_]", "_", name).lower()
        tag = hashlib.md5(f"{self.root}\x00{name}".encode()).hexdigest()[:8]
        return f"graph_{safe}_{tag}"

    def _write(self, name: str, edges: DataFrame, mode: str) -> None:
        e = self._normalize(edges)
        # a null endpoint would read back as one more vertex. Probe before
        # writing, so a rejected add leaves no directory and a rejected
        # modify keeps the old graph; a frame whose schema rules nulls out
        # (the matrix door's) needs no probe job.
        if any(f.nullable for f in e.schema.fields) and not e.where(
            F.col("src").isNull() | F.col("dst").isNull()
        ).isEmpty():
            raise ValueError(f"graph {name!r}: an edge has a null src or dst")
        if self.buckets is None:
            e.write.mode(mode).parquet(self.path(name))
            return
        if mode == "errorifexists" and self.exists(name):
            # keep add()'s contract uniform even when the catalog entry is
            # gone (new session over an old root): CTAS would otherwise
            # fail-or-adopt the non-empty directory depending on session
            # flags — surface the same "already exists" error the plain
            # path raises.
            raise FileExistsError(
                f"graph {name!r} already exists at {self.path(name)} "
                "(no catalog entry — written by an earlier session?)"
            )
        # Bucketed layout must go through the catalog — bucket metadata
        # lives there, not in the files; sortBy(src, dst) additionally
        # makes row-group stats tight for src-range scans.
        (
            e.write.bucketBy(self.buckets, "src")
            .sortBy("src", "dst")
            .option("path", self.path(name))
            .mode("error" if mode == "errorifexists" else mode)
            .format("parquet")
            .saveAsTable(self.table_name(name))
        )

    def add(self, name: str, edges: DataFrame) -> None:
        self._write(name, edges, "errorifexists")

    def modify(self, name: str, edges: DataFrame) -> None:
        self._write(name, edges, "overwrite")

    def load(self, name: str) -> DataFrame:
        if self.buckets is not None and self.spark.catalog.tableExists(
            self.table_name(name)
        ):
            # through the catalog: keeps the bucket spec so src-keyed joins
            # skip the edge-side Exchange
            return self.spark.table(self.table_name(name))
        # _write always stores EDGE_SCHEMA: declaring it skips the footer
        # schema-inference job every plain read would otherwise start
        return self.spark.read.schema(EDGE_SCHEMA).parquet(self.path(name))

    def _hadoop_path(self, name: str):
        """``name``'s directory as a Hadoop ``(FileSystem, Path)``.

        Hadoop FileSystem API, not os.path: add/modify/load already accept
        any Hadoop-compatible URI (hdfs://, s3a://, file:), so checks on the
        directory must resolve through the same filesystem abstraction."""
        hpath = self.spark._jvm.org.apache.hadoop.fs.Path(self.path(name))
        return hpath.getFileSystem(self.spark._jsc.hadoopConfiguration()), hpath

    def exists(self, name: str) -> bool:
        # isDirectory, not exists: a graph is a parquet DIRECTORY; a stray
        # regular file at the path must read as absent (the pre-Hadoop-API
        # os.path.isdir check had the same semantics).
        fs, hpath = self._hadoop_path(name)
        return bool(fs.isDirectory(hpath))

    def listing(self, name: str) -> tuple[tuple[str, int, int], ...]:
        """``(file name, length, modification time)`` of every entry in
        ``name``'s directory, sorted: one ``listStatus`` call. Spark names
        every part file it writes with a fresh job UUID, so any add or
        modify, from any session or process, changes the listing. A missing
        graph or root raises py4j's ``Py4JJavaError``."""
        fs, hpath = self._hadoop_path(name)
        return tuple(
            sorted(
                (s.getPath().getName(), s.getLen(), s.getModificationTime())
                for s in fs.listStatus(hpath)
            )
        )

    # Reference input format: n + dense 0/1 adjacency matrix
    # (``client.c:77-94``). Matrix cell [i][j]==1 ⇔ directed edge i+1 → j+1
    # (1-indexed externally, ``secondaryServer.c:266,292``).
    # Every cell goes through ``validate_matrix_row``, the same check as the
    # reference-file door: exactly ``n`` rows of ``n`` cells, each 0 or 1.
    def edges_from_matrix(self, n: int, matrix: Sequence[Sequence[int]]) -> DataFrame:
        if len(matrix) != n:
            raise ValueError(
                f"matrix has {len(matrix)} rows (expected exactly {n})"
            )
        rows = [
            (i + 1, j + 1)
            for i in range(n)
            for j, cell in enumerate(self.validate_matrix_row(matrix[i], n, i))
            if cell
        ]
        # one partition, so the store holds one file and a guarded
        # limit().collect() of it is one job; NOT NULL, so _write knows
        # without a job that no endpoint is null
        return _local_frame(
            self.spark, rows, "src BIGINT NOT NULL, dst BIGINT NOT NULL"
        ).coalesce(1)

    def add_matrix(self, name: str, n: int, matrix: Sequence[Sequence[int]]) -> None:
        self.add(name, self.edges_from_matrix(n, matrix))

    def modify_matrix(self, name: str, n: int, matrix: Sequence[Sequence[int]]) -> None:
        self.modify(name, self.edges_from_matrix(n, matrix))

    # Reference at-rest format: first line vertex count, then n rows of n
    # space-separated 0/1 cells (``primaryServer.c:43-49``; read back at
    # ``secondaryServer.c:211-225``). Lets existing reference graph files
    # load directly.
    @staticmethod
    def validate_matrix_row(
        tokens: Sequence[str | int], n: int, row_idx: int
    ) -> list[int]:
        """THE single cell validator — shared by the in-memory matrix door
        (``edges_from_matrix``), the whole-file driver parse below and the
        block-local Spark source (sources/refgraph.py), so the validation
        contract cannot diverge between the doors: exactly ``n`` integer
        cells per row (a non-integer string raises the int() ValueError),
        each 0 or 1 (anything else is rejected rather than silently treated
        as truthy)."""
        cells = [int(t) for t in tokens]
        if len(cells) != n:
            raise ValueError(
                f"matrix row {row_idx}: {len(cells)} matrix cells "
                f"(expected exactly {n})"
            )
        for j, cell in enumerate(cells):
            if cell not in (0, 1):
                raise ValueError(
                    f"matrix cell [{row_idx}][{j}] = {cell}; the "
                    "matrix must be 0/1"
                )
        return cells

    @staticmethod
    def parse_reference_file(text: str) -> tuple[int, list[list[int]]]:
        tokens = text.split()
        if not tokens:
            raise ValueError("empty graph file")
        n = int(tokens[0])
        cells = tokens[1:]
        if len(cells) != n * n:
            raise ValueError(
                f"graph file declares {n} vertices but has {len(cells)} "
                f"matrix cells (expected exactly {n * n})"
            )
        return n, [
            GraphStore.validate_matrix_row(cells[i * n : (i + 1) * n], n, i)
            for i in range(n)
        ]

    # NOTE: the reference-file readers use builtin open() and therefore only
    # accept LOCAL paths — matching the reference, whose graph files are tiny
    # local artifacts written by the client (client.c:77-94). The parquet
    # add/modify/load/exists paths above take any Hadoop-compatible URI.
    def add_reference_file(self, name: str, path: str) -> None:
        with open(path) as fh:
            n, matrix = self.parse_reference_file(fh.read())
        self.add_matrix(name, n, matrix)

    def modify_reference_file(self, name: str, path: str) -> None:
        with open(path) as fh:
            n, matrix = self.parse_reference_file(fh.read())
        self.modify_matrix(name, n, matrix)


# ---------------------------------------------------------------------------
# BFS — R4
# ---------------------------------------------------------------------------


def bfs(edges: DataFrame, start: int, max_iter: int = 10_000) -> DataFrame:
    """Level-synchronous BFS from ``start``; returns ``(vid, level)`` for every
    reachable vertex (start included at level 0), ordered ``level, vid``.

    Each level is frontier ⋈ edges → anti-join visited (the reference's
    ``!visited`` check, ``secondaryServer.c:115``) → union into visited,
    run by :func:`_frontier_traversal`, which owns the per-level
    materialization, the stop probe and the cache cleanup. Raises
    ``RuntimeError`` when the frontier is not exhausted within ``max_iter``
    levels: a silently truncated reachable set is a WRONG answer for every
    caller (shortest_path_lengths, dfs_leaves pruning). At cluster scale,
    edges pre-partitioned by ``src`` keep every level co-located:
    ``GraphStore(buckets=N)`` stores graphs hash-bucketed + sorted by
    ``src``, and src-keyed joins against the loaded table plan with no
    edge-side Exchange (tests/test_graph.py).
    """
    first = _local_frame(
        edges.sparkSession, [(int(start), 0)], "vid BIGINT, level INT"
    )

    def expand(frontier: DataFrame, e: DataFrame) -> DataFrame:
        return (
            frontier.join(e, frontier["vid"] == e["src"])
            .select(e["dst"].alias("vid"))
            .distinct()
        )

    return _frontier_traversal(
        edges, first, ["vid"], ["vid"], expand, "bfs", max_iter
    ).orderBy("level", "vid")


# ---------------------------------------------------------------------------
# DFS leaf-set — R3
# ---------------------------------------------------------------------------


def dfs_leaves(
    edges: DataFrame, start: int, max_collect_edges: int = MAX_COLLECT_EDGES
) -> DataFrame:
    """Canonical DFS leaf-set from ``start`` (deterministic re-spec of the
    reference's race-nondeterministic threaded DFS — see FIXTURES.md §B).

    A vertex is a *leaf of the DFS tree* iff it made zero recursive visits
    (every out-neighbor already visited when reached — the ``n_threads == 0``
    test, ``secondaryServer.c:93-97``); the start vertex is never emitted
    (``secondaryServer.c:290``). Neighbor visit order: ascending vid.

    Hybrid plan: reachability is computed distributively (BFS), the reachable
    subgraph — typically a tiny fraction of a 100 TB edge set — is collected,
    and the inherently-sequential DFS (:func:`driver_dfs_leaves`) runs on the
    driver. ``max_collect_edges`` (default ``MAX_COLLECT_EDGES``, the cap the
    ``api.Engine`` door also uses) guards the collect; callers with larger
    reachable sets should sample or partition by component first.
    """
    spark = edges.sparkSession
    reach = bfs(edges, start).select("vid")
    sub = (
        edges.select("src", "dst")
        .join(reach, edges["src"] == reach["vid"], "left_semi")
        .distinct()
    )
    # LIMIT to the cap + 1 so the guard needs no separate count() job — one
    # execution of the join feeds both the bound check and the adjacency.
    rows = sub.limit(max_collect_edges + 1).collect()
    if len(rows) > max_collect_edges:
        raise ValueError(
            f"reachable subgraph exceeds max_collect_edges="
            f"{max_collect_edges}; refusing driver-side DFS"
        )
    leaves = driver_dfs_leaves(driver_adjacency(rows), start)
    return _local_frame(spark, [(v,) for v in leaves], "vid BIGINT")


def driver_adjacency(rows: Sequence[tuple[int, int]]) -> dict[int, list[int]]:
    """Collected ``(src, dst)`` rows as ``src → ascending distinct dsts``."""
    adj: dict[int, set[int]] = {}
    for src, dst in rows:
        adj.setdefault(src, set()).add(dst)
    return {v: sorted(nbrs) for v, nbrs in adj.items()}


def driver_bfs(adj: dict[int, list[int]], start: int) -> list[tuple[int, int]]:
    """Level order from ``start`` over a :func:`driver_adjacency`: the rows
    of :func:`bfs`, ``(vid, level)`` ordered ``level, vid``."""
    start = int(start)
    rows, seen, frontier = [(start, 0)], {start}, [start]
    level = 0
    while frontier:
        level += 1
        frontier = sorted({w for v in frontier for w in adj.get(v, ())} - seen)
        seen.update(frontier)
        rows += [(w, level) for w in frontier]
    return rows


def driver_dfs_leaves(adj: dict[int, list[int]], start: int) -> list[int]:
    """The DFS leaf-set of :func:`dfs_leaves`, ascending, over a
    :func:`driver_adjacency`."""
    start = int(start)
    visited: set[int] = set()
    leaves: list[int] = []
    # Iterative DFS with explicit stack (driver graphs can exceed Python's
    # recursion limit). Each frame tracks how many recursive visits it made.
    stack: list[tuple[int, int, int]] = [(start, 0, 0)]  # (vertex, next-child idx, spawned)
    visited.add(start)
    while stack:
        v, i, spawned = stack.pop()
        nbrs = adj.get(v, [])
        advanced = False
        while i < len(nbrs):
            w = nbrs[i]
            i += 1
            if w not in visited:
                visited.add(w)
                stack.append((v, i, spawned + 1))
                stack.append((w, 0, 0))
                advanced = True
                break
        if not advanced and spawned == 0 and v != start:
            leaves.append(v)
    return sorted(leaves)


# ---------------------------------------------------------------------------
# Pregel-style propagation + derived analytics
# ---------------------------------------------------------------------------


def pregel(
    vertices: DataFrame,
    edges: DataFrame,
    msg: Column,
    agg: Callable[[Column], Column],
    update: Callable[[Column, Column], Column],
    max_iter: int = 50,
) -> DataFrame:
    """Minimal Pregel loop over ``vertices (vid, val)`` and ``edges (src, dst)``.

    Per superstep: every ACTIVE vertex sends ``msg`` — an expression over
    its ``val`` AND any edge columns (e.g. ``weight``) — along each
    out-edge to ``dst``; incoming messages are combined with ``agg``; each
    vertex's new ``val`` is ``update(old_val, combined_msg)`` (combined_msg
    is NULL when no messages arrived). A vertex is active when its ``val``
    changed in the previous superstep (``_changed``, a null-safe compare,
    so NULL-valued vertices converge too); every vertex is active in the
    first. Stops when no ``val`` changed or raises after ``max_iter``
    supersteps. Lineage is cut per superstep.

    Sending only from the active set is GraphX's Pregel rule (Gonzalez et
    al., OSDI'14). It is exact only for a monotone, idempotent ``agg`` /
    ``update`` pair (``min``/``least``, ``max``/``greatest``), as every
    caller here uses: an unchanged vertex's message is then already
    reflected in its receiver's value.
    """
    reserved = {"vid", "val", "_changed"} & set(edges.columns)
    if reserved:
        raise ValueError(
            f"edge columns {sorted(reserved)} collide with pregel's vertex "
            "attributes; rename them before calling pregel"
        )
    v = vertices.select(
        "vid", "val", F.lit(True).alias("_changed")
    ).localCheckpoint()
    # keep ALL edge columns: message expressions may read edge attributes
    e = edges.persist()
    converged = False
    try:
        for _ in range(max_iter):
            msgs = (
                v.where("_changed")
                .join(e, v["vid"] == e["src"])
                .select(e["dst"].alias("vid"), msg.alias("m"))
                .groupBy("vid")
                .agg(agg(F.col("m")).alias("m"))
            )
            new_val = update(F.col("val"), F.col("m"))
            v = (
                v.join(msgs, "vid", "left")
                .select(
                    "vid",
                    new_val.alias("val"),
                    (~new_val.eqNullSafe(F.col("val"))).alias("_changed"),
                )
                .localCheckpoint()
            )
            if not v.where("_changed").take(1):
                converged = True
                break
    finally:
        # finally: a task failure mid-superstep must not leak the cache entry
        e.unpersist()
    if not converged:
        # a silently-unconverged fixed point is a WRONG answer for every
        # current caller (SSSP distances missing, SCC colors unsettled)
        raise RuntimeError(
            f"pregel did not converge within max_iter={max_iter} supersteps; "
            "raise max_iter (bound: graph diameter)"
        )
    return v.select("vid", "val")


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star step (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14): for every node u, attach all strictly-larger
    neighbors to ``m = min(Γ(u) ∪ {u})``. Emits ``(v, m)`` for v ∈ Γ(u),
    v > u, over the symmetrized edge set."""
    sym = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star step: orient each edge high→low, then attach every
    smaller-or-equal neighbor (and u itself) of each node u to
    ``m = min(Γ(u) ∪ {u})``; self-loops ``(m, m)`` are dropped."""
    orient = e.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    ).distinct()
    # every dst < src here, so min(Γ⁺(u)) is just min(dst)
    mins = orient.groupBy("src").agg(F.min("dst").alias("m"))
    joined = orient.join(mins, "src")
    return (
        joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(mins.select("src", F.col("m").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """Weakly connected components: every vertex labeled with the minimum
    vid of its component. Returns ``(vid, comp)``.

    Alternating large-star/small-star (Kiveris et al., SoCC'14): converges
    in O(log n) rounds independent of graph diameter — the variant that
    survives 100 TB path-shaped or high-diameter graphs, where hash-min
    label propagation's O(diameter) rounds (each a full shuffle) are the
    bottleneck. Labels are asserted against a driver-side union-find in
    tests/test_graph.py, path graphs and isolated vertices included.
    """
    v = (
        vertices.select(F.col("vid"))
        if vertices is not None
        else _all_vertices(edges)
    )
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    n_prev = e.count()
    converged = n_prev == 0
    for _ in range(max_iter):
        # localCheckpoint per round: constant-size plan regardless of round
        # count (same rationale as bfs/pregel)
        new_e = _small_star(_large_star(e)).localCheckpoint()
        n_new = new_e.count()
        # both sets are distinct: equal count + empty (new ∖ old) ⟺ equal
        if n_new == n_prev and not new_e.join(
            e, ["src", "dst"], "left_anti"
        ).take(1):
            converged = True
            e = new_e
            break
        e, n_prev = new_e, n_new
    if not converged:
        raise RuntimeError(
            f"star CC did not converge within max_iter={max_iter} rounds; "
            "bound is O(log n) — raise max_iter"
        )
    # fixed point is a star forest: src → component-min. Roots and isolated
    # vertices label themselves.
    labels = e.select(F.col("src").alias("vid"), F.col("dst").alias("comp"))
    return v.join(labels, "vid", "left").select(
        "vid", F.coalesce("comp", F.col("vid")).alias("comp")
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Per-vertex (out_degree, in_degree); one aggregation per direction,
    full-outer joined so sources-only and sinks-only vertices both appear."""
    out_d = edges.groupBy(F.col("src").alias("vid")).agg(
        F.count("*").alias("out_degree")
    )
    in_d = edges.groupBy(F.col("dst").alias("vid")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        out_d.join(in_d, "vid", "full_outer")
        .select(
            "vid",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def shortest_path_lengths(edges: DataFrame, start: int) -> DataFrame:
    """Unweighted shortest-path distance from ``start`` = BFS level."""
    return bfs(edges, start).select("vid", F.col("level").alias("distance"))


def sssp_weighted(
    edges: DataFrame, start: int, max_iter: int = 50
) -> DataFrame:
    """Single-source shortest paths over weighted edges ``(src, dst, weight)``
    — distributed Bellman-Ford expressed through ``pregel``: each superstep
    relaxes every edge (msg = dist(src) + weight, combined with min), so the
    message expression reads an *edge* column, demonstrating that the pregel
    helper is not limited to vertex-state propagation. Converges in ≤
    |V| - 1 supersteps (the pregel loop stops early when no distance
    changes). Returns ``(vid, distance)`` for reachable vertices only."""
    spark = edges.sparkSession
    verts = (
        edges.select(F.col("src").alias("vid"))
        .union(edges.select(F.col("dst").alias("vid")))
        # the start vertex is always present (distance 0) even when isolated,
        # matching bfs()'s always-emit-start semantics
        .union(_local_frame(spark, [(int(start),)], "vid BIGINT"))
        .distinct()
        .withColumn(
            "val",
            F.when(F.col("vid") == start, F.lit(0.0)).otherwise(
                F.lit(float("inf"))
            ),
        )
    )
    out = pregel(
        verts,
        edges.select("src", "dst", "weight"),
        msg=F.col("val") + F.col("weight"),
        agg=F.min,
        update=lambda old, m: F.least(old, F.coalesce(m, old)),
        max_iter=max_iter,
    )
    return out.where(F.col("val") != float("inf")).select(
        "vid", F.col("val").alias("distance")
    )


def pagerank(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    iterations: int = 20,
) -> DataFrame:
    """Fixed-iteration PageRank over ``(src, dst)`` edges; returns
    ``(vid, rank)`` with ranks summing to 1.

    Per iteration: contributions rank/out_degree flow along out-edges (one
    shuffle on dst), dangling mass is redistributed uniformly, then
    rank' = (1-d)/n + d·(contribs + dangling/n). The dangling mass is a
    one-row aggregate broadcast-joined into the update — part of the same
    dataflow, so each iteration is ONE job (the eager localCheckpoint), not
    a job plus a driver-blocking collect. Lineage is cut per iteration; the
    edge list + out-degrees stay cached. Deterministic up to float addition
    order within the contribution sum (~1e-16). The loop is
    :func:`_pagerank_iterations`, shared with :func:`personalized_pagerank`."""
    spark = edges.sparkSession
    e = edges.select("src", "dst")
    v = vertices.select("vid") if vertices is not None else _all_vertices(e)
    base = _with_out_degree(v, e).persist()
    n = base.count()
    if n == 0:
        # empty graph: empty result, matching bfs/connected_components
        # (1.0 / n below would raise ZeroDivisionError on the driver)
        base.unpersist()
        return _local_frame(spark, [], "vid BIGINT, rank DOUBLE")
    return _pagerank_iterations(
        e,
        base,
        F.lit(1.0 / n),
        F.lit((1.0 - damping) / n)
        + F.lit(damping)
        * (
            F.coalesce(F.col("c"), F.lit(0.0))
            + F.col("_dangling") / F.lit(float(n))
        ),
        iterations,
    )


def personalized_pagerank(
    edges: DataFrame,
    sources: Sequence[int],
    damping: float = 0.85,
    iterations: int = 20,
) -> DataFrame:
    """Personalized PageRank: teleport (and dangling) mass returns to the
    ``sources`` set instead of the uniform distribution — rank becomes
    proximity TO the sources, the standard seed-expansion primitive
    (related-item discovery, local community detection). Same loop as
    :func:`pagerank` (:func:`_pagerank_iterations`); the only change is
    the restart vector p: 1/|S| on sources, 0 elsewhere, so
    rank' = (1-d)·p + d·(contribs + dangling·p). Ranks sum to 1."""
    spark = edges.sparkSession
    src_list = sorted({int(s) for s in sources})
    if not src_list:
        raise ValueError("personalized_pagerank: sources must be non-empty")
    e = edges.select("src", "dst")
    v = (
        e.select(F.col("src").alias("vid"))
        .union(e.select(F.col("dst").alias("vid")))
        .union(_local_frame(spark, [(s,) for s in src_list], "vid BIGINT"))
        .distinct()
    )
    p = F.when(F.col("vid").isin(src_list), 1.0 / len(src_list)).otherwise(0.0)
    base = _with_out_degree(v, e).withColumn("p", p).persist()
    return _pagerank_iterations(
        e,
        base,
        F.col("p"),
        F.lit(1.0 - damping) * F.col("p")
        + F.lit(damping)
        * (
            F.coalesce(F.col("c"), F.lit(0.0))
            + F.col("_dangling") * F.col("p")
        ),
        iterations,
    )


def _with_out_degree(v: DataFrame, e: DataFrame) -> DataFrame:
    """``v``'s ``vid`` with its out-degree in ``e`` (0 for sinks)."""
    out_deg = e.groupBy(F.col("src").alias("vid")).agg(
        F.count("*").alias("out_degree")
    )
    return v.join(out_deg, "vid", "left").select(
        "vid", F.coalesce("out_degree", F.lit(0)).alias("out_degree")
    )


def _pagerank_iterations(
    e: DataFrame,
    base: DataFrame,
    rank0: Column,
    update: Column,
    iterations: int,
) -> DataFrame:
    """The PageRank loop of :func:`pagerank` and :func:`personalized_pagerank`.

    ``base`` is the persisted ``(vid, out_degree, ...)`` vertex frame; it
    is released in ``finally``. Ranks start at ``rank0`` and each iteration
    sets ``rank = update``, an expression over ``base``'s other columns,
    the summed contribution ``c`` (NULL when none arrived) and the dangling
    mass ``_dangling``."""
    try:
        ranks = base.select("vid", rank0.alias("rank")).localCheckpoint()
        for _ in range(iterations):
            with_deg = ranks.join(base.select("vid", "out_degree"), "vid")
            dangling = with_deg.where(F.col("out_degree") == 0).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling")
            )
            contribs = (
                with_deg.join(e, with_deg["vid"] == e["src"])
                .select(
                    F.col("dst").alias("vid"),
                    (F.col("rank") / F.col("out_degree")).alias("c"),
                )
                .groupBy("vid")
                .agg(F.sum("c").alias("c"))
            )
            ranks = (
                base.drop("out_degree")
                .join(contribs, "vid", "left")
                .crossJoin(F.broadcast(dangling))
                .select("vid", update.alias("rank"))
                .localCheckpoint()
            )
    finally:
        # finally: a task failure mid-iteration must not leak the cache entry
        base.unpersist()
    return ranks


def label_propagation(
    edges: DataFrame, max_iter: int = 10
) -> DataFrame:
    """Community detection by synchronous label propagation (the GraphX
    ``LabelPropagation`` analogue): labels start as vertex ids; each round
    every vertex adopts its neighbors' most frequent label, ties broken by
    the SMALLEST label so every step is deterministic. Runs exactly
    ``max_iter`` rounds (fixed-round semantics, same contract as GraphX):
    sync LPA can 2-cycle on bipartite-ish structure, so a fixpoint test
    would not terminate — a fixed round count keeps the output a pure
    function of (graph, max_iter).

    Returns ``(vid, label)``. Edges are treated as undirected; per round:
    one edge join + one (vertex, label) count + one arg-min-of-max-count
    aggregation — all partial+final shuffles on vid, lineage cut per round.

    Reference parity: no analogue (reference analytics are R3/R4 only);
    north-star "GraphX + Pregel for analytics" extension.
    """
    e = _undirected(edges)
    sym = e.unionAll(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()  # (a → neighbor b), both directions
    labels = (
        sym.select(F.col("a").alias("vid"))
        .distinct()
        .withColumn("label", F.col("vid"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neigh = sym.join(
            labels.select(F.col("vid").alias("b"), "label"), "b"
        ).select(F.col("a").alias("vid"), "label")
        counted = neigh.groupBy("vid", "label").agg(F.count("*").alias("n"))
        # most frequent label, smallest label on ties: max of (n, -label)
        labels = (
            counted.groupBy("vid")
            .agg(F.max(F.struct(F.col("n"), (-F.col("label")).alias("neg"))).alias("m"))
            .select("vid", (-F.col("m.neg")).alias("label"))
            .localCheckpoint()
        )
    return labels


def k_core(edges: DataFrame, k: int, max_iter: int = 500) -> DataFrame:
    """Vertices of the k-core (maximal subgraph where every vertex has
    degree ≥ k in the subgraph), with their core-subgraph degree — by
    distributed peeling: each round drops EVERY vertex whose current degree
    is < k (not one at a time), recomputes degrees on the induced subgraph,
    and repeats until stable. Edges are treated as undirected; direction
    and duplicates are normalized internally.

    Scale shape: per round, one degree aggregation + two broadcast-friendly
    semi-joins (the sub-k vertex set is small after the first rounds); the
    edge set only shrinks. Lineage is cut per round (localCheckpoint), so
    the plan stays constant-size at any depth. Round count = peeling depth
    of the graph — O(log n)-ish on real graphs, but O(n) on degenerate
    chains (k=2 strips two endpoints per round); raises after ``max_iter``
    rather than returning a superset that still contains sub-k vertices
    (same convergence contract as pregel above).

    Reference parity: no analogue — the reference's only analytics are the
    R3/R4 traversals (``secondaryServer.c:56-179``); this extends the
    north-star analytics set (CC / PageRank / triangles / SSSP).
    """
    if k < 1:
        raise ValueError(f"k_core: k must be >= 1, got {k}")
    e = _undirected(edges).localCheckpoint()
    for _ in range(max_iter):
        deg = (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("d"))
        ).localCheckpoint()
        sub_k = deg.where(F.col("d") < k)
        if sub_k.isEmpty():
            return deg.select(F.col("v").alias("vid"), F.col("d").alias("core_degree"))
        e = (
            e.join(sub_k.select(F.col("v").alias("a")), "a", "left_anti")
            .join(sub_k.select(F.col("v").alias("b")), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint()
        )
        if e.isEmpty():
            # graph fully peeled: the k-core is empty. Derive the empty
            # frame FROM deg (not a hardcoded BIGINT schema) so both return
            # paths agree on the vid type for INT/STRING vertex ids.
            return deg.where(F.lit(False)).select(
                F.col("v").alias("vid"), F.col("d").alias("core_degree")
            )
    raise RuntimeError(f"k_core: did not stabilize within {max_iter} peeling rounds")


def topo_levels(edges: DataFrame, max_iter: int = 10_000) -> DataFrame:
    """Layered topological order of a DAG given as ``(src, dst)`` edges:
    returns ``(vid, topo_level)`` where ``topo_level`` is the Kahn peeling
    round in which the vertex's in-degree reaches zero — equivalently the
    length of the LONGEST path from any source to it. Raises ``ValueError``
    if the graph has a cycle (some round finds no zero-in-degree vertex
    while vertices remain) — so this doubles as distributed cycle
    detection: ``has_cycle`` below is the boolean wrapper.

    Level assignment (not an arbitrary linear extension) is the
    distributed-friendly form of topological sort: it is deterministic,
    vertices within a level are independent (the scheduling interpretation:
    level = earliest executable wave), and a total order, when needed, is
    just (topo_level, vid).

    Scale shape: each round is one anti-join (current sources = vertices
    absent from remaining dst's) and one edge filter, both keyed on vid;
    lineage is cut per round with localCheckpoint exactly as the other
    iterative ops. Rounds = longest-path length — the DAG analogue of
    BFS depth.
    """
    e = edges.select("src", "dst").distinct().localCheckpoint()
    verts = _all_vertices(e).localCheckpoint()
    spark = edges.sparkSession
    out = _local_frame(spark, [], "vid BIGINT, topo_level INT")
    for level in range(max_iter):
        if verts.isEmpty():
            return out
        sources = verts.join(
            e.select(F.col("dst").alias("vid")).distinct(), "vid", "left_anti"
        ).localCheckpoint()
        if sources.isEmpty():
            raise ValueError(
                "topo_levels: graph has a cycle (no zero-in-degree vertex "
                f"among {verts.count()} remaining)"
            )
        # lazy union of already-checkpointed per-round frames (the bfs
        # `visited` discipline): re-checkpointing the accumulator every
        # round would rematerialize all previously-peeled rows per round —
        # O(V × depth) on deep DAGs. Compact every 64 rounds to bound the
        # union plan instead.
        out = out.union(
            sources.select("vid", F.lit(level).alias("topo_level"))
        )
        if level % 64 == 63:
            out = out.localCheckpoint()
        verts = verts.join(sources, "vid", "left_anti").localCheckpoint()
        e = e.join(
            sources.select(F.col("vid").alias("src")), "src", "left_anti"
        ).localCheckpoint()
    raise RuntimeError(f"topo_levels: did not finish within {max_iter} rounds")


def has_cycle(edges: DataFrame, max_iter: int = 10_000) -> bool:
    """Distributed cycle detection: True iff Kahn peeling gets stuck."""
    try:
        topo_levels(edges, max_iter=max_iter)
        return False
    except ValueError:
        return True


def triangle_count(edges: DataFrame) -> DataFrame:
    """Triangle count of an undirected graph given as canonical edges
    (src < dst, deduplicated), via DEGREE-ORDERED ORIENTATION: every edge is
    re-directed from its lower-(degree, vid) endpoint to the higher one, so
    each vertex's oriented out-degree is O(√m) even on power-law graphs —
    the wedge join (u→v)⋈(u→w) can't blow up on hub vertices the way a
    naive (i,j)⋈(j,k) self-join does. Each triangle is counted exactly once:
    its minimum-(degree, vid) vertex owns the wedge, and the closing edge
    between the two endpoints is oriented low→high, making the final join
    an equi-join on the ordered pair. Three shuffles total (degree agg,
    wedge join, closing-edge join), no per-vertex state."""
    e = edges.select("src", "dst")
    deg = (
        e.select(F.col("src").alias("v"))
        .unionAll(e.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    # Attach each endpoint's (degree, vid) orientation key, then direct the
    # edge from the smaller key to the larger. Key comparison uses struct
    # ordering, so ties on degree break deterministically by vid.
    with_keys = (
        e.join(deg.select(F.col("v").alias("src"), F.col("d").alias("ds")), "src")
        .join(deg.select(F.col("v").alias("dst"), F.col("d").alias("dd")), "dst")
        .select(
            "src",
            "dst",
            F.struct(F.col("ds").alias("d"), F.col("src").alias("v")).alias("ks"),
            F.struct(F.col("dd").alias("d"), F.col("dst").alias("v")).alias("kd"),
        )
    )
    # Materialized once: oriented feeds three consumers (both wedge sides
    # and the closing-edge join); without this, the degree agg + both
    # degree-attach joins re-execute per branch. localCheckpoint over
    # persist for the same CacheManager-leak reason as minhash's candidate
    # pairs (operators/dedup.py).
    oriented = with_keys.select(
        F.when(F.col("ks") < F.col("kd"), F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(F.col("ks") < F.col("kd"), F.col("dst")).otherwise(F.col("src")).alias("b"),
        F.when(F.col("ks") < F.col("kd"), F.col("kd")).otherwise(F.col("ks")).alias("kb"),
    ).localCheckpoint()
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    # Wedges at the minimum-key vertex; endpoints ordered by orientation key
    # so the closing oriented edge is exactly (x, y).
    wedges = (
        e1.join(
            e2,
            (F.col("e1.a") == F.col("e2.a")) & (F.col("e1.kb") < F.col("e2.kb")),
        )
        .select(F.col("e1.b").alias("x"), F.col("e2.b").alias("y"))
    )
    closing = oriented.select(F.col("a").alias("x"), F.col("b").alias("y"))
    return wedges.join(closing, ["x", "y"]).agg(F.count("*").alias("n_triangles"))


def find_motif(edges: DataFrame, pattern: str) -> DataFrame:
    """Graph pattern (motif) matching: ``pattern`` is a semicolon-separated
    list of directed edge atoms over named vertex variables, e.g.
    ``"a->b; b->c; a->c"`` (feed-forward triangle) or ``"a->b; c->b"``
    (convergence). Returns the DISTINCT variable bindings, one column per
    variable — the declarative traversal surface a graph database exposes
    beyond single-source walks (the reference's BFS/DFS are the special
    cases ``"a->b"`` chained from a fixed start).

    Compilation is joins, nothing else: each atom is the edge table
    re-aliased to its variables; atoms sharing a bound variable join on
    it (equi-join on the shared columns); an atom sharing nothing would
    be a cross product and is rejected — connect patterns explicitly.
    Variables may bind the same vertex (standard motif semantics); add
    ``WHERE`` filters on the result for inequality constraints. Catalyst
    reorders the equi-join chain like any other multi-join; at 100 TB the
    same degree-ordering trick as triangle_count applies by orienting the
    pattern's atoms along ascending selectivity."""
    import re as _re

    atoms: list[tuple[str, str]] = []
    for part in pattern.split(";"):
        m = _re.fullmatch(r"\s*(\w+)\s*->\s*(\w+)\s*", part)
        if m is None:
            raise ValueError(f"find_motif: bad edge atom {part!r}")
        atoms.append((m.group(1), m.group(2)))
    e = edges.select("src", "dst")
    result = None
    bound: set[str] = set()
    for x, y in atoms:
        if x == y:
            raise ValueError(f"find_motif: self-loop atom {x}->{y} not supported")
        step = e.select(F.col("src").alias(x), F.col("dst").alias(y))
        if result is None:
            result = step
        else:
            common = sorted(bound & {x, y})
            if not common:
                raise ValueError(
                    f"find_motif: atom {x}->{y} shares no variable with "
                    "the pattern so far — connect atoms or run separately"
                )
            result = result.join(step, common)
        bound |= {x, y}
    return result.select(*sorted(bound)).distinct()


def strongly_connected_components(
    edges: DataFrame,
    max_iter: int = 100,
    max_hops: int = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """Strongly connected components of a digraph: ``(vid, scc)`` with
    ``scc`` = the component's minimum vertex id. Distributed
    trim-and-color (FW-BW-Trim family — Hong et al., PPoPP'13 /
    Orzan's coloring) with MULTI-PIVOT randomized coloring: per outer
    round,

    1. TRIM: a vertex with no in-edge or no out-edge in the remaining
       graph cannot lie on a cycle — peel it as a singleton SCC; repeat
       until stable (this alone dissolves DAG regions, the failure mode
       that makes pure coloring O(n) rounds on chains);
    2. COLOR: propagate the maximum PRIORITY forward to a fixpoint,
       where priority(v) = (xxhash64(vid, round), vid) — a per-round
       salted pseudo-random total order. color(v) = max priority that
       reaches v (including its own). Vertices whose own priority equals
       their color are roots — one per color class;
    3. BACKWARD: frontier-join from each root along REVERSED edges,
       restricted to its own color class — everything reached both
       reaches the root (same color ⇒ forward path) and is reached from
       it (backward walk), i.e. the root's SCC. All roots expand in the
       same frontier (set-at-a-time), so every color class resolves one
       SCC per outer round, in parallel.

    Why randomized priorities instead of the raw max vertex id: a chain
    of SCCs whose largest id sits most-upstream is colored UNIFORMLY by
    that one id — one color class, one root, one SCC resolved per round,
    O(#SCCs) outer rounds. Salted priorities re-drawn each round make
    the coloring split a chain at every prefix-maximum: expected
    O(log n) color classes resolve per round on exactly the adversarial
    chains that degrade the deterministic variant (the classic
    randomized FW-BW analysis; asserted empirically by the chain-of-48
    round-count test). The worst case remains O(#SCCs) rounds if every
    per-round hash draw is adversarial — vanishingly unlikely and still
    correct, just slower; ``max_iter`` stays the honest cap. OUTPUT is
    fully deterministic regardless of pivots: scc = min member id, and
    xxhash64 is seed-free.

    The inner loops are the module's shared ones: COLOR is one max-
    :func:`pregel` over the priority struct, BACKWARD one
    :func:`_frontier_traversal` keyed on ``(vid, root)``. Every loop step
    localCheckpoints, so plans stay constant-size. Two separate bounds,
    because they measure different things: ``max_iter`` caps the OUTER
    trim/color rounds, while ``max_hops`` caps each inner loop — pregel's
    supersteps and the backward walk's levels (bounded by graph diameter
    — the same regime as bfs's default); either raises ``RuntimeError``
    when exceeded. When ``stats`` is passed the outer-round count lands
    in ``stats["outer_rounds"]``.
    """
    # vertices come from the UNFILTERED edge set: a vertex whose only
    # incident edge is a self-loop is a singleton SCC and must appear in
    # the output (trim resolves it once self-loop edges are dropped below)
    verts = _all_vertices(edges).localCheckpoint()
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    out = _local_frame(edges.sparkSession, [], "vid BIGINT, scc BIGINT")
    # accumulator discipline (the bfs `visited` pattern): out is a lazy
    # union of already-checkpointed frames (trimmed singletons and found
    # SCCs alike), compacted every 64 unions — re-checkpointing it per
    # round would rematerialize every resolved vertex each time, O(V ×
    # rounds) on chains.
    unions = 0
    for _outer in range(max_iter):
        if stats is not None:
            stats["outer_rounds"] = _outer
        if verts.isEmpty():
            return out
        # --- trim loop -----------------------------------------------------
        while True:
            has_out = e.select(F.col("src").alias("vid")).distinct()
            has_in = e.select(F.col("dst").alias("vid")).distinct()
            core = verts.join(has_out, "vid", "left_semi").join(
                has_in, "vid", "left_semi"
            )
            trimmed = verts.join(core, "vid", "left_anti").localCheckpoint()
            if trimmed.isEmpty():
                break
            out = out.union(trimmed.select("vid", F.col("vid").alias("scc")))
            unions += 1
            if unions % 64 == 0:
                out = out.localCheckpoint()
            verts = core.localCheckpoint()
            e = _induced(e, verts)
        if verts.isEmpty():
            return out
        # --- color: forward max-PRIORITY propagation to fixpoint -----------
        # priority = (salted hash, vid): a fresh pseudo-random total order
        # each outer round, compared lexicographically by struct max — the
        # multi-pivot trick that splits adversarial SCC chains into many
        # color classes instead of one (see docstring). The struct's second
        # field carries the pivot's IDENTITY, so roots and class-membership
        # checks fall out of the color itself.
        prio = F.struct(
            F.xxhash64(F.col("vid"), F.lit(_outer)).alias("p"),
            F.col("vid").alias("cv"),
        )
        colors = pregel(
            verts.select("vid", prio.alias("val")),
            e,
            msg=F.col("val"),
            agg=F.max,
            update=lambda old, m: F.greatest(old, F.coalesce(m, old)),
            max_iter=max_hops,
        )
        # --- backward reachability from roots within color classes --------
        # a root is the vertex whose OWN priority won its class; the class
        # (and the root's identity) is val.cv from here on. The seed is a
        # filter over pregel's checkpointed output, so it needs no
        # checkpoint of its own.
        roots = colors.where(F.col("vid") == F.col("val.cv")).select(
            "vid", F.col("val.cv").alias("root"), F.lit(0).alias("level")
        )
        classes = colors.select("vid", F.col("val.cv").alias("root"))

        def expand(frontier: DataFrame, e: DataFrame) -> DataFrame:
            # one step along a REVERSED edge, kept inside the root's class
            return (
                frontier.join(e, frontier["vid"] == e["dst"])
                .select(e["src"].alias("vid"), "root")
                .join(classes, ["vid", "root"], "left_semi")
                .distinct()
            )

        reached = _frontier_traversal(
            e, roots, ["vid", "root"], ["vid", "root"], expand,
            "scc backward walk", max_hops,
        )
        # scc id = MIN member id (deterministic, orientation-free)
        scc_min = reached.groupBy("root").agg(F.min("vid").alias("scc"))
        found = reached.join(scc_min, "root").select("vid", "scc").localCheckpoint()
        out = out.union(found)
        unions += 1
        if unions % 64 == 0:
            out = out.localCheckpoint()
        verts = verts.join(found.select("vid"), "vid", "left_anti").localCheckpoint()
        e = _induced(e, verts)
    raise RuntimeError(f"scc: did not finish within {max_iter} outer rounds")


def _induced(e: DataFrame, verts: DataFrame) -> DataFrame:
    """The ``(src, dst)`` edges of ``e`` with both endpoints in ``verts``."""
    return (
        e.join(verts.select(F.col("vid").alias("src")), "src", "left_semi")
        .join(verts.select(F.col("vid").alias("dst")), "dst", "left_semi")
        .select("src", "dst")
        .localCheckpoint()
    )


def _frontier_traversal(
    edges: DataFrame,
    first: DataFrame,
    row_cols: list[str],
    dedup_keys: list[str],
    expand,
    op_name: str,
    max_iter: int = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """The module's one visit-once level-synchronous loop, run by
    :func:`bfs`, the multi-source walkers and the backward walk of
    :func:`strongly_connected_components`. Per level:
    ``expand(frontier, e)`` → anti-join against visited ``dedup_keys`` →
    localCheckpoint (cuts lineage and makes the empty-``take(1)`` stop
    probe cheap). ``visited`` is a lazy unionByName of ``first`` and the
    checkpointed levels, compacted every 64 levels: O(|V|) total
    materialization, where re-checkpointing it every level would be
    quadratic on chain-like graphs. The persisted edge frame is released
    in ``finally``; an unexhausted frontier raises rather than truncates.
    ``first`` is a shallow frame carrying ``row_cols`` plus ``level``: a
    :func:`_local_frame` seed, or a projection/filter over an
    already-checkpointed frame (SCC's roots). It is read again by every
    level's anti-join and never checkpointed here, so it must not carry
    lineage worth cutting. ``expand``
    returns next-candidate rows with exactly ``row_cols``. ``dedup_keys``
    ⊆ ``row_cols`` decides what "already visited" means: ``["vid"]``
    gives visit-once-per-vertex (nearest-landmark) semantics, the full
    row gives per-seed trees. When ``stats`` is passed, the executed
    join-round count lands in ``stats["rounds"]`` (= max level + 1 final
    empty probe)."""
    e = edges.select("src", "dst").persist()
    exhausted = True
    try:
        visited = first
        frontier = first.select(*row_cols)
        level = 0
        while level < max_iter:
            level += 1
            expanded = (
                expand(frontier, e)
                .join(visited.select(*dedup_keys), dedup_keys, "left_anti")
                .withColumn("level", F.lit(level))
                .select(*row_cols, "level")
                .localCheckpoint()
            )
            if not expanded.take(1):
                exhausted = False
                break
            visited = visited.unionByName(expanded)
            if level % 64 == 0:
                visited = visited.localCheckpoint()
            frontier = expanded.select(*row_cols)
        if stats is not None:
            stats["rounds"] = level
    finally:
        e.unpersist()
    if exhausted:
        raise RuntimeError(
            f"{op_name} did not exhaust the frontier within "
            f"max_iter={max_iter} levels; raise max_iter (bound: the "
            "eccentricity of the seeds)"
        )
    return visited


def multi_source_bfs(
    edges: DataFrame,
    sources: Sequence[int],
    max_iter: int = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """Distances to the NEAREST of several landmark sources in one pass:
    returns ``(vid, level, landmark)`` where ``landmark`` is the source
    whose BFS reached ``vid`` first (min level; ties broken by smaller
    landmark id — deterministic). One frontier carries ALL landmarks, so
    the cost is one BFS over the union of reach sets, not |landmarks|
    separate traversals — the landmark-distance primitive behind
    shortest-path sketches and nearest-facility queries.

    Built on the shared :func:`_frontier_traversal` discipline; the
    frontier rows are (vid, landmark) pairs and a vertex is VISITED ONCE
    — the dedup key is ``vid`` alone, the landmark column rides along as
    the per-level argmin payload (deterministic MIN inside ``expand``),
    so the traversal state stays O(|V|)."""
    if not sources:
        raise ValueError("multi_source_bfs: need at least one source")
    first = _local_frame(
        edges.sparkSession,
        [(int(s), int(s), 0) for s in sorted(set(sources))],
        "vid BIGINT, landmark BIGINT, level INT",
    )

    def expand(frontier: DataFrame, e: DataFrame) -> DataFrame:
        return (
            frontier.join(e, frontier["vid"] == e["src"])
            .select(e["dst"].alias("vid"), "landmark")
            .groupBy("vid")
            .agg(F.min("landmark").alias("landmark"))  # deterministic tie
        )

    return _frontier_traversal(
        edges, first, ["vid", "landmark"], ["vid"], expand,
        "multi_source_bfs", max_iter, stats,
    ).select("vid", "level", "landmark").orderBy("level", "vid")


def multi_source_bfs_all(
    edges: DataFrame,
    sources: Sequence[int],
    max_iter: int = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """Distances from EVERY landmark to every vertex it reaches, in ONE
    level-synchronous traversal: returns ``(seed, vid, level)`` — the
    full landmark-distance table behind harmonic/closeness centrality
    estimates and shortest-path sketches. Unlike :func:`multi_source_bfs`
    (which keeps only the NEAREST landmark per vertex), the frontier key
    here is the ``(seed, vid)`` pair, so each landmark's BFS tree is
    carried independently inside the same per-level join — the total
    round count is max-eccentricity of the landmark set, NOT
    |landmarks| × depth (the sequential per-landmark loop this operator
    replaces). State size is Σ|reach(seed)| rows, the size of the answer
    itself.

    Built on the shared :func:`_frontier_traversal` discipline. When
    ``stats`` is passed, the executed join-round count is recorded under
    ``stats["rounds"]`` — pinned by tests/test_graph.py so a refactor
    back to a per-landmark loop fails loudly."""
    if not sources:
        raise ValueError("multi_source_bfs_all: need at least one source")
    first = _local_frame(
        edges.sparkSession,
        [(int(s), int(s), 0) for s in sorted(set(sources))],
        "seed BIGINT, vid BIGINT, level INT",
    )

    def expand(frontier: DataFrame, e: DataFrame) -> DataFrame:
        return (
            frontier.join(e, frontier["vid"] == e["src"])
            .select("seed", e["dst"].alias("vid"))
            .distinct()
        )

    return _frontier_traversal(
        edges, first, ["seed", "vid"], ["seed", "vid"], expand,
        "multi_source_bfs_all", max_iter, stats,
    ).select("seed", "vid", "level")


def temporal_bfs(
    edges: DataFrame,
    start: int,
    max_iter: int = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """Earliest-arrival reachability over a TEMPORAL graph: ``edges`` are
    ``(src, dst, ts)`` contact events, and a path is valid only if its
    edge timestamps are non-decreasing (you can't take a connection that
    departed before you arrived). Returns ``(vid, arrival)`` — the
    earliest time each vertex can be reached from ``start`` — the
    contagion / supply-chain / information-flow primitive of temporal
    graph analytics.

    Label-correcting frontier loop: expand ``frontier ⋈ edges`` on
    ``src = vid AND ts >= arrival``, take the MIN candidate arrival per
    destination, keep only strict improvements over known labels.
    Earlier arrivals dominate (any edge usable from a later arrival is
    usable from an earlier one), so min-labels lose nothing; labels are
    drawn from the finite edge-timestamp set and only decrease, so the
    loop converges. Start's label is NULL-as-minus-infinity (every
    outgoing edge qualifies). Each round checkpoints the improved labels
    and rebuilds ``known`` (anti-join + union) under a fresh
    localCheckpoint, so every round rematerializes all labels found so
    far — unlike bfs's lazy ``visited`` union. When ``stats`` is passed, the
    converged round count is recorded under ``stats["rounds"]`` (the
    scale probe reads it — the label-correcting bound is temporal
    diameter + relabeling rounds, not plain hop diameter)."""
    e = edges.select("src", "dst", F.col("ts").alias("_ets"))
    spark = edges.sparkSession
    known = _local_frame(spark, [(int(start),)], "vid BIGINT").select(
        "vid", F.lit(None).cast("timestamp").alias("arrival")
    )
    frontier = known
    for _round in range(max_iter):
        if stats is not None:
            stats["rounds"] = _round
        cand = (
            frontier.join(e, frontier["vid"] == e["src"])
            # NULL arrival = start's minus-infinity: every edge qualifies
            .where(
                F.col("arrival").isNull() | (F.col("_ets") >= F.col("arrival"))
            )
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.min("_ets").alias("arrival"))
        )
        improved = (
            cand.alias("c")
            .join(known.alias("k"), "vid", "left")
            .where(
                F.col("k.arrival").isNull() & F.col("k.vid").isNull()
                | (
                    F.col("k.arrival").isNotNull()
                    & (F.col("c.arrival") < F.col("k.arrival"))
                )
            )
            .select("vid", F.col("c.arrival").alias("arrival"))
            .localCheckpoint()
        )
        if improved.isEmpty():
            return known.orderBy("arrival", "vid")
        known = (
            known.join(improved.select("vid"), "vid", "left_anti")
            .unionByName(improved)
            .localCheckpoint()
        )
        frontier = improved
    raise RuntimeError(
        f"temporal_bfs did not converge within max_iter={max_iter} rounds"
    )


def longest_path_dag(
    edges: DataFrame, max_iter: int = 10_000
) -> DataFrame:
    """Weighted longest (critical) path from the sources of a DAG: edges
    are ``(src, dst, weight)``; returns ``(vid, dist)`` where ``dist`` is
    the maximum total weight of any source→v path (0 at in-degree-0
    vertices) — the critical-path / earliest-completion analytic of
    scheduling, the weighted generalization of :func:`topo_levels`.

    One max-:func:`pregel` (the sssp_weighted shape with max instead of
    min): ``val`` starts at 0.0 on in-degree-0 vertices and NULL elsewhere,
    and only vertices whose value rose send ``val + weight`` on. Values are
    monotone increasing and drawn from the finite set of path sums, so on
    a DAG it converges within longest-hop-count + 1 supersteps. Vertices
    unreachable from any source (including every vertex of a SOURCELESS
    cycle) keep NULL and are omitted — no label exists for them. A
    positive-weight cycle REACHABLE from a source makes labels grow
    forever, and the ``max_iter`` guard raises rather than returning wrong
    output (use :func:`has_cycle` to pre-check)."""
    e = edges.select("src", "dst", "weight")
    ends = e.select(F.col("src").alias("vid"), F.lit(False).alias("_in")).union(
        e.select(F.col("dst").alias("vid"), F.lit(True).alias("_in"))
    )
    # in-degree 0 ⟺ never a dst: 0.0 there, NULL (not reached) elsewhere
    init = ends.groupBy("vid").agg(
        F.when(~F.max("_in"), F.lit(0.0)).alias("val")
    )
    try:
        out = pregel(
            init,
            e,
            msg=F.col("val") + F.col("weight"),
            agg=F.max,
            update=F.greatest,
            max_iter=max_iter,
        )
    except RuntimeError as exc:
        raise RuntimeError(
            f"longest_path_dag did not converge within max_iter={max_iter} "
            "rounds — the input likely contains a cycle (see has_cycle)"
        ) from exc
    return (
        out.where(F.col("val").isNotNull())
        .select("vid", F.col("val").alias("dist"))
        .orderBy("dist", "vid")
    )


def shortest_path(
    edges: DataFrame, start: int, end: int, max_iter: int = 10_000
) -> DataFrame:
    """ONE concrete shortest path start→end as ordered ``(step, vid)``
    rows (empty result if unreachable) — the "show me the route" query a
    graph database answers beyond bfs's distance map. Deterministic: each
    vertex records its MINIMUM-id predecessor among first-reaching
    neighbors, so the returned path is a pure function of the graph.

    BFS with predecessor tracking (same frontier-join/localCheckpoint
    discipline as :func:`bfs`), stopping the moment the target enters the
    frontier; backtracking then walks the predecessor labels with one
    1-row lookup per hop — O(path length) tiny jobs, the same bounded
    driver-side pattern as dfs_leaves' start lookup."""
    spark = edges.sparkSession
    e = edges.select("src", "dst").persist()
    try:
        known = _local_frame(
            spark, [(int(start), None)], "vid BIGINT, pred BIGINT"
        )
        frontier = known.select("vid")
        found = start == end
        for _ in range(max_iter):
            if found:
                break
            nxt = (
                frontier.join(e, frontier["vid"] == e["src"])
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.min("src").alias("pred"))
                .join(known.select("vid"), "vid", "left_anti")
                .localCheckpoint()
            )
            if nxt.isEmpty():
                return _local_frame(spark, [], "step INT, vid BIGINT")
            known = known.unionByName(nxt).localCheckpoint()
            frontier = nxt.select("vid")
            found = not nxt.where(F.col("vid") == end).isEmpty()
        # branch on `found`, NOT for/else: if the target enters the frontier
        # on the very last allowed iteration, the loop exhausts with
        # found=True and for/else would wrongly raise on a found path.
        if not found:
            raise RuntimeError(
                f"shortest_path did not reach {end} within {max_iter} levels"
            )
        # backtrack: one bounded 1-row lookup per hop
        path = [int(end)]
        cur = int(end)
        while cur != start:
            row = known.where(F.col("vid") == cur).first()
            cur = int(row["pred"])
            path.append(cur)
        path.reverse()
        return _local_frame(
            spark, [(i, v) for i, v in enumerate(path)], "step INT, vid BIGINT"
        )
    finally:
        e.unpersist()


def maximal_independent_set(edges: DataFrame, max_iter: int = 200) -> DataFrame:
    """Maximal independent set by Luby's algorithm with DETERMINISTIC
    per-round priorities: round r gives every undecided vertex the priority
    ``(xxhash64(vid, r), vid)`` — the vid tie-break makes the order total
    even under hash collisions — and a vertex enters the MIS iff its
    priority beats the minimum over its undecided neighbors (vertices with
    no undecided neighbor enter unconditionally). Winners and their
    neighbors leave the undecided set, incident edges drop, repeat: the
    classic O(log n)-expected-round parallel MIS, made a pure function of
    the graph by replacing random draws with hashes (same device as the
    multi-pivot SCC coloring above).

    Per round: one edge join + one min-aggregation + two semi/anti joins,
    all keyed on vid; the edge set only shrinks; lineage cut per round.
    Returns ``(vid)`` — the MIS members. Independence and maximality are
    asserted as properties in tests/test_graph.py.

    Self-loops are IGNORED (stripped with the ``a != b`` canonicalization,
    consistent with every undirected operator in this module): a vertex
    whose only incident edges are self-loops counts as isolated and is
    admitted unconditionally. Under strict semantics a self-adjacent
    vertex can never belong to an independent set — callers needing that
    reading should drop self-looped vertices (and their edges) before
    calling.

    Reference parity: no analogue (reference analytics are R3/R4 only);
    north-star analytics extension.
    """
    e = _undirected(edges).localCheckpoint()
    undecided = _all_vertices(edges).localCheckpoint()
    mis_parts: list[DataFrame] = []
    for r in range(max_iter):
        if undecided.isEmpty():
            if not mis_parts:  # empty graph: the MIS is empty
                return undecided.select("vid")
            out = mis_parts[0]
            for p in mis_parts[1:]:
                out = out.unionAll(p)
            return out.distinct()
        pri = undecided.select(
            "vid", F.xxhash64(F.col("vid"), F.lit(r)).alias("p")
        ).localCheckpoint()
        sym = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        neigh_min = (
            sym.join(
                pri.select(F.col("vid").alias("b"), "p", F.col("vid").alias("nv")),
                "b",
            )
            .groupBy(F.col("a").alias("vid"))
            .agg(F.min(F.struct("p", "nv")).alias("nm"))
        )
        winners = (
            pri.join(neigh_min, "vid", "left")
            .where(
                F.col("nm").isNull()
                | (F.struct(F.col("p"), F.col("vid").alias("nv")) < F.col("nm"))
            )
            .select("vid")
            .localCheckpoint()
        )
        mis_parts.append(winners)
        # winners' neighbors are dominated: both leave the undecided set
        dominated = (
            sym.join(winners.select(F.col("vid").alias("a")), "a")
            .select(F.col("b").alias("vid"))
            .distinct()
        )
        removed = winners.unionAll(dominated).distinct().localCheckpoint()
        undecided = undecided.join(removed, "vid", "left_anti").localCheckpoint()
        e = (
            e.join(removed.select(F.col("vid").alias("a")), "a", "left_anti")
            .join(removed.select(F.col("vid").alias("b")), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint()
        )
    raise RuntimeError(
        f"maximal_independent_set: not converged in {max_iter} rounds"
    )


def random_walks(
    edges: DataFrame,
    seeds: DataFrame,
    n_walks: int = 2,
    length: int = 4,
) -> DataFrame:
    """Deterministic random-walk corpus (the node2vec/DeepWalk input):
    ``n_walks`` walks of up to ``length`` steps from every seed vertex,
    where step t at vertex v picks ranked out-neighbor
    ``md5(seed|walk|t|v) mod outdegree(v)`` — hashes replace random draws,
    so the walk corpus is a pure function of the graph (reproducible
    across runs/retries/partitionings, and cross-engine: the oracle
    re-walks with a recursive CTE over the same md5 picks). Walks stop
    early at sinks.

    Scale shape: the ranked adjacency (row_number per src) is computed
    ONCE; each of the ``length`` rounds is one equi-join of the frontier
    against it on (v, idx) — frontier size is |seeds|·n_walks, constant
    per round; lineage cut per round. Returns
    ``(seed, walk_id, steps, path)`` with path like '1->5->9'."""
    adj = (
        edges.select("src", "dst")
        .distinct()
        .withColumn(
            "idx",
            F.row_number().over(W.partitionBy("src").orderBy("dst")) - 1,
        )
    )
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ranked = adj.join(deg, "src").localCheckpoint()

    walks = None
    for w in range(n_walks):
        part = seeds.select(
            F.col("vid").alias("seed"),
            F.lit(w).alias("walk_id"),
            F.lit(0).alias("pos"),
            F.col("vid").alias("v"),
            F.col("vid").cast("string").alias("path"),
        )
        walks = part if walks is None else walks.unionAll(part)
    frontier = walks.localCheckpoint()
    done_parts: list[DataFrame] = []
    for _ in range(length):
        pick = F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.col("seed").cast("string"),
                            F.col("walk_id").cast("string"),
                            F.col("pos").cast("string"),
                            F.col("v").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint"),
            F.col("d"),
        )
        stepped = frontier.join(
            ranked.select(F.col("src").alias("v"), "dst", "idx", "d"), "v", "left"
        )
        # sinks (no adjacency row) finish here
        done_parts.append(
            stepped.where(F.col("d").isNull()).select(
                "seed", "walk_id", F.col("pos").alias("steps"), "path"
            )
        )
        frontier = (
            stepped.where(F.col("d").isNotNull() & (F.col("idx") == pick))
            .select(
                "seed",
                "walk_id",
                (F.col("pos") + 1).alias("pos"),
                F.col("dst").alias("v"),
                F.concat_ws("->", "path", F.col("dst").cast("string")).alias(
                    "path"
                ),
            )
            .localCheckpoint()
        )
    done_parts.append(
        frontier.select("seed", "walk_id", F.col("pos").alias("steps"), "path")
    )
    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionAll(p)
    return out


def minimum_spanning_forest(
    edges: DataFrame, weight_col: str = "w", max_iter: int = 50
) -> DataFrame:
    """Minimum spanning forest by Borůvka's algorithm — the parallel MST
    formulation (each round EVERY component picks its lightest outgoing
    edge, components contract, repeat; components at least halve per
    round, so O(log n) rounds). Determinism: the per-component pick is
    min over the total order (w, a, b) — equal-weight edges resolve by
    endpoint ids — so the forest is a pure function of the graph even
    with duplicate weights.

    Per round: two comp-map joins to label edge endpoints + one min-struct
    aggregation per component + component contraction via the existing
    ``connected_components`` over the picked edges (a relation with ≤ one
    edge per component — tiny). Edges are undirected; self-loops and the
    heavier of duplicate (a, b) edges never enter the forest. Returns
    ``(a, b, w)`` rows of the forest (|V| − #components rows).

    Reference parity: no analogue; north-star analytics extension
    (Kruskal-reference parity in tests/test_graph.py)."""
    e = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col(weight_col).alias("w"),
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .localCheckpoint()
    )
    comp = (
        e.select(F.col("a").alias("vid"))
        .unionAll(e.select(F.col("b").alias("vid")))
        .distinct()
        .withColumn("comp", F.col("vid"))
        .localCheckpoint()
    )
    picked_parts: list[DataFrame] = []
    for _ in range(max_iter):
        labeled = (
            e.join(comp.select(F.col("vid").alias("a"), F.col("comp").alias("ca")), "a")
            .join(comp.select(F.col("vid").alias("b"), F.col("comp").alias("cb")), "b")
            .where(F.col("ca") != F.col("cb"))
        )
        if labeled.isEmpty():
            break
        # each component's lightest outgoing edge, total-ordered
        cand = labeled.select(F.col("ca").alias("c"), "w", "a", "b").unionAll(
            labeled.select(F.col("cb").alias("c"), "w", "a", "b")
        )
        picks = (
            cand.groupBy("c")
            .agg(F.min(F.struct("w", "a", "b")).alias("m"))
            .select(F.col("m.a").alias("a"), F.col("m.b").alias("b"), F.col("m.w").alias("w"))
            .distinct()
            .localCheckpoint()
        )
        picked_parts.append(picks)
        # contract: components connected by picked edges merge
        pick_graph = picks.select(
            F.col("a").alias("src"), F.col("b").alias("dst")
        )
        # map picked endpoints to their current comps, then CC over comps
        pg = (
            pick_graph.join(
                comp.select(F.col("vid").alias("src"), F.col("comp").alias("cs")), "src"
            )
            .join(
                comp.select(F.col("vid").alias("dst"), F.col("comp").alias("cd")), "dst"
            )
            .select(F.col("cs").alias("src"), F.col("cd").alias("dst"))
        )
        cc = connected_components(pg)  # (vid=old comp, comp=new comp)
        comp = (
            comp.join(
                cc.select(F.col("vid").alias("comp"), F.col("comp").alias("nc")),
                "comp",
                "left",
            )
            .select("vid", F.coalesce("nc", "comp").alias("comp"))
            .localCheckpoint()
        )
    if not picked_parts:
        return e.where(F.lit(False)).select("a", "b", "w")
    out = picked_parts[0]
    for p in picked_parts[1:]:
        out = out.unionAll(p)
    return out.distinct()


def core_decomposition(edges: DataFrame, max_k: int = 1000) -> DataFrame:
    """Full core decomposition: every vertex labeled with its CORENESS —
    the largest k for which it survives in the k-core. Distributed
    bin-peeling: phase k removes (repeatedly, until stable) every vertex
    whose residual degree is < k; vertices removed during phase k have
    coreness k−1. Each inner round is the same degree-aggregate +
    anti-join as ``k_core``; the edge set only shrinks, and total phase
    count is the graph's degeneracy + 1 (small for real graphs — web/
    social graphs have degeneracy in the hundreds at billions of edges,
    which is why peeling is THE scalable coreness algorithm). Lineage cut
    per round. Returns ``(vid, coreness)`` for every vertex incident to
    an edge.

    Reference parity: no analogue; extends the k_core operator to the
    full decomposition (k_core(k) == coreness ≥ k, asserted in tests)."""
    e = _undirected(edges).localCheckpoint()
    alive = (
        e.select(F.col("a").alias("vid"))
        .unionAll(e.select(F.col("b").alias("vid")))
        .distinct()
        .localCheckpoint()
    )
    out_parts: list[DataFrame] = []
    for k in range(2, max_k + 2):
        # peel at threshold k until stable
        while True:
            deg = (
                e.select(F.col("a").alias("vid"))
                .unionAll(e.select(F.col("b").alias("vid")))
                .groupBy("vid")
                .agg(F.count(F.lit(1)).alias("d"))
            )
            # vertices alive but with zero residual degree also fall
            drop = alive.join(
                deg.where(F.col("d") >= k), "vid", "left_anti"
            ).localCheckpoint()
            if drop.isEmpty():
                break
            out_parts.append(
                drop.select("vid", F.lit(k - 1).alias("coreness"))
            )
            alive = alive.join(drop, "vid", "left_anti").localCheckpoint()
            e = (
                e.join(drop.select(F.col("vid").alias("a")), "a", "left_anti")
                .join(drop.select(F.col("vid").alias("b")), "b", "left_anti")
                .select("a", "b")
                .localCheckpoint()
            )
        if alive.isEmpty():
            out = out_parts[0]
            for p in out_parts[1:]:
                out = out.unionAll(p)
            return out
    raise RuntimeError(f"core_decomposition: degeneracy exceeds max_k={max_k}")


def k_truss(edges: DataFrame, k: int, max_iter: int = 100) -> DataFrame:
    """The k-truss: the maximal subgraph where EVERY edge participates in
    ≥ k−2 triangles (a cohesion notion strictly between k-core and clique
    — the standard community-core extractor). Distributed peeling on
    EDGES: per round, count each surviving edge's triangle support with
    a degree-ordered wedge join — every edge is oriented from its
    lower-``(degree, id)`` endpoint to the higher, wedges form only at the
    LOW end, and a triangle closes iff the oriented edge between the two
    wedge tips exists. Wedge fan-out per vertex is bounded by its
    out-degree under this orientation (≤ O(sqrt(|E|)) per the standard
    arboricity argument), so a high-degree hub never expands
    quadratically, whatever its vertex id. Degrees are recomputed per
    round on the SURVIVING edges. Drop every edge below k−2 support,
    repeat until stable. The edge set only shrinks; lineage cut per
    round. Returns surviving ``(a, b, support)`` rows (a < b).

    Reference parity: no analogue; north-star analytics extension
    (clique/cycle golden + brute-force-reference test in
    tests/test_graph.py)."""
    if k < 2:
        raise ValueError(f"k_truss: k must be >= 2, got {k}")
    e = _undirected(edges).localCheckpoint()
    for _ in range(max_iter):
        if e.isEmpty():
            return e.withColumn("support", F.lit(0).cast("bigint"))
        # orient each surviving edge low→high by (degree, id): wedges fan
        # out only at the low end, so a hub's expansion is bounded by its
        # orientation out-degree, not its raw degree
        deg = (
            e.select(F.col("a").alias("vid"))
            .unionAll(e.select(F.col("b").alias("vid")))
            .groupBy("vid")
            .agg(F.count(F.lit(1)).alias("dg"))
        )
        ed = e.join(
            deg.select(F.col("vid").alias("a"), F.col("dg").alias("da")), "a"
        ).join(deg.select(F.col("vid").alias("b"), F.col("dg").alias("db")), "b")
        a_low = F.struct(F.col("da"), F.col("a")) < F.struct(
            F.col("db"), F.col("b")
        )
        oriented = ed.select(
            F.when(a_low, F.col("a")).otherwise(F.col("b")).alias("x"),
            F.when(a_low, F.col("b")).otherwise(F.col("a")).alias("y"),
            # the tip's (degree, id) key orders the wedge pair so each
            # triangle materializes exactly once
            F.when(
                a_low,
                F.struct(F.col("db").alias("d"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("da").alias("d"), F.col("a").alias("v")))
            .alias("ky"),
        ).localCheckpoint()
        wedges = (
            oriented.alias("e1")
            .join(
                oriented.alias("e2"),
                (F.col("e1.x") == F.col("e2.x"))
                & (F.col("e1.ky") < F.col("e2.ky")),
            )
            .select(
                F.col("e1.x").alias("wa"),
                F.col("e1.y").alias("wb"),
                F.col("e2.y").alias("wc"),
            )
        )
        # closing edge: oriented wb→wc exists by construction iff the
        # undirected edge {wb, wc} survives (ky(wb) < ky(wc) in the wedge)
        tri = wedges.join(
            oriented.select(F.col("x").alias("wb"), F.col("y").alias("wc")),
            ["wb", "wc"],
        ).localCheckpoint()

        def canon(u: str, v: str):
            return [
                F.least(F.col(u), F.col(v)).alias("a"),
                F.greatest(F.col(u), F.col(v)).alias("b"),
            ]

        sup_ab = tri.select(*canon("wa", "wb"))
        sup_ac = tri.select(*canon("wa", "wc"))
        sup_bc = tri.select(*canon("wb", "wc"))
        support = (
            sup_ab.unionAll(sup_ac)
            .unionAll(sup_bc)
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        scored = e.join(support, ["a", "b"], "left").select(
            "a", "b", F.coalesce("support", F.lit(0)).alias("support")
        ).localCheckpoint()
        weak = scored.where(F.col("support") < k - 2)
        if weak.isEmpty():
            return scored
        e = scored.where(F.col("support") >= k - 2).select("a", "b").localCheckpoint()
    raise RuntimeError(f"k_truss: did not stabilize within {max_iter} rounds")


def diameter_double_sweep(edges: DataFrame) -> DataFrame:
    """Diameter LOWER BOUND by the classic double BFS sweep (Magnien,
    Latapy & Habib, ACM JEA 2009): BFS from the smallest vertex id, hop to
    a farthest vertex u (ties → smallest id), BFS again from u — u's
    eccentricity bounds the diameter from below, and on most real graphs
    equals it. Edges are treated as UNDIRECTED (symmetrized, self-loops
    dropped); the bound covers the start vertex's connected component.

    Returns one row ``(start_vid BIGINT, peripheral_vid BIGINT,
    antipode_vid BIGINT, diameter_lb INT)`` — the deterministic sweep
    witness pair and the bound.

    Scale shape: exactly two runs of the level-synchronous ``bfs``
    operator (frontier-checkpointed, one src-keyed shuffle per level) plus
    two single-row argmax reductions — no per-pair work, unlike exact
    diameter's all-pairs BFS. Reference parity: no analogue (reference
    analytics are R3/R4 only); north-star analytics extension.
    """
    spark = edges.sparkSession
    und = (
        edges.select("src", "dst")
        .unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    first = und.agg(F.min("src").alias("m")).first()
    if first["m"] is None:
        return _local_frame(
            spark,
            [],
            "start_vid BIGINT, peripheral_vid BIGINT, "
            "antipode_vid BIGINT, diameter_lb INT",
        )
    s0 = int(first["m"])

    def _farthest(levels: DataFrame) -> tuple[int, int]:
        r = levels.orderBy(F.desc("level"), "vid").first()
        return int(r["vid"]), int(r["level"])

    u, _ = _farthest(bfs(und, start=s0))
    w, ecc = _farthest(bfs(und, start=u))
    return _local_frame(
        spark,
        [(s0, u, w, ecc)],
        "start_vid BIGINT, peripheral_vid BIGINT, "
        "antipode_vid BIGINT, diameter_lb INT",
    )


def betweenness_centrality(
    edges: DataFrame,
    sources: list[int] | None = None,
    directed: bool = False,
    max_iter: int = 10_000,
    max_sources: int = 4096,
) -> DataFrame:
    """Brandes betweenness centrality (Brandes, J.Math.Soc. 2001) from the
    given ``sources`` — EXACT when sources is None (every vertex seeds one
    sweep), the standard sampled approximation when a landmark subset is
    passed — per Brandes & Pich (2007) the sampled dependency sum is
    extrapolated by |V|/|sources|, so landmark scores estimate the exact
    all-source betweenness (factor 1 in exact mode). Unweighted
    shortest paths; ``directed=False`` symmetrizes and halves the final
    scores (each unordered pair contributes twice).

    Determinism discipline: path counts σ are EXACT decimal integers
    (order-free sums), and the backward dependency accumulation
    δ(u) += σ_u/σ_w · (1+δ_w) rounds the per-edge share to fixed
    decimal(28,12) — so results are byte-identical under any
    partitioning, which is what lets the registered query pin a golden.
    The fixed-point rounding compounds through the backward recursion:
    vs exact rational Brandes the absolute error is ~1e-6 at depth ~20
    (asserted in tests), far inside the sampling error any landmark
    approximation carries.

    Scale shape: ALL sources sweep in ONE level-synchronous batch keyed
    by a per-source root index — one forward sweep (the bfs join shape,
    frontier localCheckpoint-ed per level) and one backward sweep over
    the same level structure, each O(depth) rounds TOTAL instead of the
    r14 form's O(|sources| · depth) sequential rounds; every level is
    all-(root, vertex)-parallel, so more sources mean wider frames (the
    same total row count the per-source loop produced over time), not
    more barriers. Exact mode is for small/fixture graphs, landmark
    sampling is the 100 TB path (same deal as harmonic centrality).
    Brute-force parity in tests/test_graph.py. Reference parity: no
    analogue; north-star analytics extension."""
    spark = edges.sparkSession
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    if not directed:
        e = e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.distinct().localCheckpoint()
    verts = _all_vertices(e).localCheckpoint()
    if sources is None:
        # Exact mode collects EVERY vertex id and runs one sweep per
        # vertex — a fixture-scale verification mode. The guard stops an
        # unbounded collect+loop on a large graph: raise before collecting
        # anything data-sized, pointing at landmark sampling (the scale
        # path, Brandes & Pich 2007 extrapolation above).
        n_verts = verts.count()
        if n_verts > max_sources:
            raise ValueError(
                f"betweenness exact mode would sweep {n_verts} sources "
                f"(> max_sources={max_sources}); pass a landmark `sources`"
                " subset for the sampled approximation, or raise"
                " max_sources explicitly for a verification run"
            )
        sources = [int(r["vid"]) for r in verts.orderBy("vid").collect()]
    else:
        if len(sources) > max_sources:
            raise ValueError(
                f"{len(sources)} landmark sources (> max_sources="
                f"{max_sources}); each source costs one full forward+"
                "backward sweep — sample fewer landmarks or raise"
                " max_sources explicitly"
            )
        n_verts = verts.count()
    if not sources:
        return verts.select("vid", F.lit(0.0).alias("bc"))
    one = F.lit(1).cast("decimal(20,0)")
    zero12 = F.lit(0).cast("decimal(28,12)")
    # ALL sources sweep together in ONE level-synchronous batch, keyed by
    # a per-source `root` index (the list index, so even duplicate source
    # ids stay independent sweeps exactly like the old per-source loop):
    # rounds drop from |sources|·depth to depth, and every per-level
    # frame carries all roots' frontiers — the per-(root, vid) joins,
    # exact decimal sigma sums, and per-edge-share decimal(28,12)
    # rounding are UNCHANGED expressions, so scores are bit-identical to
    # the sequential form (goldens + python-Brandes parity pin it). Space
    # trades for rounds: a level batch holds every root's frontier at
    # that depth — the same total row count the loop produced over time,
    # materialized per level instead (shuffle/disk-resident, not a
    # per-task buffer).
    idx_src = _local_frame(
        spark,
        [(i, int(s)) for i, s in enumerate(sources)],
        "root INT, svid BIGINT",
    )
    frontier = idx_src.select(
        "root", F.col("svid").alias("vid"), one.alias("sigma")
    )
    levels = [frontier]
    visited = frontier.select("root", "vid")
    for _ in range(max_iter):
        nxt = (
            levels[-1]
            .join(e, levels[-1]["vid"] == e["src"])
            .select("root", F.col("dst").alias("vid"), "sigma")
            .join(visited, ["root", "vid"], "left_anti")
            .groupBy("root", "vid")
            .agg(F.sum("sigma").cast("decimal(20,0)").alias("sigma"))
            .localCheckpoint()
        )
        # one action doing double duty: frontier-exhaustion check and
        # a loud overflow guard — path counts past 10^20 turn the
        # non-ANSI decimal(20,0) cast into NULL, which would silently
        # corrupt bc scores instead of failing (docstring scopes exact
        # mode to small graphs; this enforces it)
        stats = nxt.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("sigma").isNull(), 1)).alias("overflowed"),
        ).first()
        if stats["overflowed"]:
            raise ArithmeticError(
                "betweenness: sigma path-count overflow past decimal(20,0)"
                " — graph too dense for exact mode"
            )
        if stats["n"] == 0:
            break
        levels.append(nxt)
        visited = visited.unionAll(nxt.select("root", "vid"))
    else:
        raise RuntimeError("betweenness: a source exceeded max_iter")
    # backward: dependency accumulation, deepest level up. A root whose
    # sweep exhausted at level l* simply has no rows past levels[l*]: the
    # recursion first touches it at li = l*, where the empty join below
    # yields its all-zero delta — exactly the sequential form's deepest-
    # level initialization for that root.
    delta = levels[-1].select("root", "vid", zero12.alias("delta"))
    contribs = [] if len(levels) == 1 else [delta]
    for li in range(len(levels) - 2, -1, -1):
        below = levels[li + 1].join(delta, ["root", "vid"]).select(
            F.col("root").alias("_r"),
            F.col("vid").alias("w"),
            F.col("sigma").alias("sigma_w"),
            "delta",
        )
        du = (
            levels[li]
            .join(e, levels[li]["vid"] == e["src"])
            .join(
                below,
                (F.col("root") == F.col("_r")) & (e["dst"] == below["w"]),
            )
            .select(
                "root",
                "vid",
                (
                    F.col("sigma")
                    * (one + F.col("delta"))
                    / F.col("sigma_w")
                )
                .cast("decimal(28,12)")
                .alias("sh"),
            )
            .groupBy("root", "vid")
            .agg(F.sum("sh").cast("decimal(28,12)").alias("delta"))
        )
        delta = (
            levels[li]
            .select("root", "vid")
            .join(du, ["root", "vid"], "left")
            .select(
                "root", "vid", F.coalesce("delta", zero12).alias("delta")
            )
            .localCheckpoint()
        )
        contribs.append(delta)
    acc = None
    for c in contribs:
        acc = c if acc is None else acc.unionAll(c)
    if acc is None:
        return verts.select("vid", F.lit(0.0).alias("bc"))
    # drop each root's own source vertex (the `w != s` term of Brandes)
    acc = (
        acc.join(F.broadcast(idx_src), "root")
        .where(F.col("vid") != F.col("svid"))
        .select("vid", "delta")
    )
    # Brandes & Pich extrapolation: sampled sweeps estimate the all-source
    # sum as (|V| / |sources|) x the sampled sum; exact mode (all vertices
    # seeded) makes the factor 1 so goldens are unaffected. Undirected
    # graphs halve (each unordered pair contributes from both endpoints).
    denom = len(sources) * (1 if directed else 2)
    bc = acc.groupBy("vid").agg(
        (
            F.sum("delta")
            * F.lit(int(n_verts)).cast("decimal(20,0)")
            / F.lit(int(denom)).cast("decimal(20,0)")
        )
        .cast("decimal(28,12)")
        .alias("bc_d")
    )
    return verts.join(bc, "vid", "left").select(
        "vid",
        F.round(F.coalesce(F.col("bc_d"), zero12).cast("double"), 6).alias(
            "bc"
        ),
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a vertex partition: the standard community
    quality score Q = Σ_c (e_c/m − (d_c/2m)²) over communities c, with
    e_c = within-community edges, d_c = total degree, m = |E| (undirected,
    self-loops dropped, one row per unordered edge).

    Exactness: the whole sum collapses algebraically to
    (4m·Σe_c − Σd_c²) / (4m²) — integer numerator, one final double
    division — so Q is bit-exact with NO rounding discipline needed at
    all (the rare float metric where the distributed sum is avoidable).

    ``labels``: (vid, label). Vertices missing a label are treated as
    singleton communities (contributing only their −(d/2m)² term), same
    as every community-metric convention here. Scale: two broadcast-able
    joins against the label table + integer aggregates; no iteration.
    Reference parity: no analogue; north-star analytics extension."""
    und = _undirected(edges).localCheckpoint()
    m = und.count()
    if m == 0:
        # even with no surviving edges the vertex census applies (raw-edge
        # universe: self-loop-only vertices count as singletons or under
        # their labels); q is 0 by convention when m = 0
        lab0 = labels.select("vid", "label")
        verts0 = _all_vertices(edges).join(lab0, "vid", "left")
        eff0 = F.when(
            F.col("label").isNotNull(),
            F.struct(F.lit(0).alias("t"), F.col("label").alias("k")),
        ).otherwise(F.struct(F.lit(1).alias("t"), F.col("vid").alias("k")))
        n_comm = verts0.select(eff0.alias("c")).distinct().count()
        return _local_frame(
            und.sparkSession,
            [(int(n_comm), 0, 0.0)],
            "n_communities BIGINT, within_edges BIGINT, q DOUBLE",
        )
    lab = labels.select("vid", "label")
    la = lab.select(F.col("vid").alias("a"), F.col("label").alias("la"))
    lb = lab.select(F.col("vid").alias("b"), F.col("label").alias("lb"))
    joined = und.join(la, "a", "left").join(lb, "b", "left")
    # unlabeled vertices: synthesize unique singleton labels (negative ids
    # can collide with real labels only if the caller uses -vid labels —
    # use a struct key instead so the namespace cannot clash)
    eff_a = F.when(
        F.col("la").isNotNull(), F.struct(F.lit(0).alias("t"), F.col("la").alias("k"))
    ).otherwise(F.struct(F.lit(1).alias("t"), F.col("a").alias("k")))
    eff_b = F.when(
        F.col("lb").isNotNull(), F.struct(F.lit(0).alias("t"), F.col("lb").alias("k"))
    ).otherwise(F.struct(F.lit(1).alias("t"), F.col("b").alias("k")))
    within = joined.where(eff_a == eff_b).count()
    # vertex universe from the RAW edges (the greedy_coloring/hits
    # convention): a vertex whose only incident edges are self-loops has
    # degree 0 after the strip but still counts toward n_communities (as
    # a singleton or under its label, per the documented convention); its
    # degree term contributes 0 to q either way
    verts = _all_vertices(edges)
    deg_e = (
        und.select(F.col("a").alias("vid"))
        .unionAll(und.select(F.col("b").alias("vid")))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    deg = (
        verts.join(deg_e, "vid", "left")
        .select("vid", F.coalesce("dg", F.lit(0)).alias("dg"))
        .join(lab, "vid", "left")
    )
    eff = F.when(
        F.col("label").isNotNull(),
        F.struct(F.lit(0).alias("t"), F.col("label").alias("k")),
    ).otherwise(F.struct(F.lit(1).alias("t"), F.col("vid").alias("k")))
    per_c = deg.groupBy(eff.alias("c")).agg(F.sum("dg").alias("dc"))
    row = per_c.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum(F.col("dc") * F.col("dc")).alias("sum_dc2"),
    ).first()
    q = (4.0 * m * within - float(row["sum_dc2"])) / (4.0 * m * m)
    return _local_frame(
        und.sparkSession,
        [(int(row["n_communities"]), int(within), round(q, 6))],
        "n_communities BIGINT, within_edges BIGINT, q DOUBLE",
    )


def greedy_coloring(edges: DataFrame, max_colors: int = 64) -> DataFrame:
    """Proper vertex coloring by ITERATED LUBY MIS (the Jones–Plassmann
    family): round c takes a maximal independent set of the still-
    uncolored subgraph, assigns it color c, removes it, repeats. Every
    MIS is independent ⇒ the coloring is proper; every MIS is maximal ⇒
    each round shrinks the graph, and the color count is bounded by
    degeneracy+1 in practice (not optimal — graph coloring is NP-hard;
    this is the standard distributed heuristic). Determinism comes free:
    maximal_independent_set breaks ties by fixed hash priorities, so the
    full color assignment is a pure function of the edge set.

    Self-loops are stripped (the module-wide undirected convention — see
    maximal_independent_set). Returns ``(vid, color INT)`` covering every
    vertex. Scale: one MIS (itself O(log n) rounds) per color; lineage
    cut per round via the MIS operator's own checkpoints plus the
    shrinking edge relation's. Reference parity: no analogue; north-star
    analytics extension."""
    und = _undirected(edges).localCheckpoint()
    spark = edges.sparkSession
    # vertex universe from the RAW edges: a vertex whose only edges are
    # self-loops must still receive a color (it is isolated after the
    # strip, consistent with maximal_independent_set's documented reading)
    remaining_v = _all_vertices(edges).localCheckpoint()
    remaining_e = und
    out = None
    for color in range(max_colors):
        if remaining_v.isEmpty():
            break
        if remaining_e.isEmpty():
            # every remaining vertex is isolated: one final color class
            colored = remaining_v.select(
                "vid", F.lit(color).cast("int").alias("color")
            ).localCheckpoint()
            out = colored if out is None else out.unionAll(colored)
            remaining_v = remaining_v.join(
                colored, "vid", "left_anti"
            ).localCheckpoint()
            break
        mis = maximal_independent_set(
            remaining_e.select(
                F.col("a").alias("src"), F.col("b").alias("dst")
            )
        ).localCheckpoint()
        # isolated vertices (no surviving edge) aren't in remaining_e;
        # they are trivially independent — add them to this round's set
        edge_verts = (
            remaining_e.select(F.col("a").alias("vid"))
            .unionAll(remaining_e.select(F.col("b").alias("vid")))
            .distinct()
        )
        isolated = remaining_v.join(edge_verts, "vid", "left_anti")
        colored = mis.select("vid").unionAll(isolated).distinct().select(
            "vid", F.lit(color).cast("int").alias("color")
        ).localCheckpoint()
        out = colored if out is None else out.unionAll(colored)
        remaining_v = remaining_v.join(colored, "vid", "left_anti").localCheckpoint()
        # break as soon as the graph is fully colored — the top-of-loop
        # check alone would misreport a coloring that completes in exactly
        # max_colors rounds as "exceeded" (the for/else raise below)
        if remaining_v.isEmpty():
            break
        picked = colored.select("vid")
        remaining_e = (
            remaining_e.join(
                picked.withColumnRenamed("vid", "a"), "a", "left_anti"
            )
            .join(picked.withColumnRenamed("vid", "b"), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint()
        )
    else:
        raise RuntimeError(f"greedy_coloring: exceeded {max_colors} colors")
    if out is None:
        return _local_frame(spark, [], "vid BIGINT, color INT")
    return out


def hits(edges: DataFrame, iterations: int = 8) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg, JACM 1999): mutually
    recursive scores on a DIRECTED graph — a good authority is pointed at
    by good hubs, a good hub points at good authorities. Per iteration:
    auth(v) = Σ hub(u) over in-edges, then L1-normalize; hub(u) = Σ
    auth(v) over out-edges, then L1-normalize. Where PageRank models a
    random surfer, HITS separates citation roles — the right centrality
    for bipartite-ish link analysis (buyers/products, papers/venues).

    Determinism discipline: scores live in fixed-point decimal(28,12);
    each normalization is one division per vertex by the exact decimal
    sum — byte-identical under any partitioning (the TextRank approach).
    L1 (not the classical L2) normalization keeps the arithmetic inside
    exact decimals — no square roots — and scales scores identically, so
    rankings match the classical formulation. Returns ``(vid, hub,
    authority)`` as rounded doubles. Self-loops dropped; lineage cut per
    iteration. Reference parity: no analogue; north-star extension."""
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    # vertex universe from the RAW edges (the greedy_coloring convention):
    # a vertex whose only edges are self-loops still appears, scored 0/0
    # mass share like any other sink/source without the relevant edges
    verts = _all_vertices(edges).localCheckpoint()
    n = verts.count()
    if n == 0:
        return verts.select(
            "vid", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
    if e.isEmpty():
        # every edge was a self-loop: without the short-circuit a_raw /
        # h_raw are empty, the totals aggregate to NULL, and every
        # normalized score becomes NULL via division by NULL — the
        # documented convention is 0/0 scores for such vertices
        return verts.select(
            "vid", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
    from decimal import ROUND_HALF_UP, Decimal

    init = (Decimal(1) / Decimal(n)).quantize(
        Decimal(1).scaleb(-12), rounding=ROUND_HALF_UP
    )
    hub = verts.select(
        "vid", F.lit(str(init)).cast("decimal(28,12)").alias("s")
    )
    auth = hub
    for i in range(iterations):
        a_raw = (
            e.join(hub.withColumnRenamed("vid", "src"), "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum("s").alias("raw"))
        )
        a_tot = a_raw.agg(F.sum("raw").alias("t"))
        # operands cast to decimal(26,12) so Spark's division typing keeps
        # scale 12 (decimal(38,12)/decimal(38,12) would adjust to scale 6,
        # silently quantizing scores — fatal once per-vertex mass ~1/n
        # drops below 1e-6 on large graphs)
        auth = (
            verts.join(a_raw, "vid", "left")
            .crossJoin(F.broadcast(a_tot))
            .select(
                "vid",
                (
                    F.coalesce(F.col("raw"), F.lit(0).cast("decimal(28,12)"))
                    .cast("decimal(26,12)")
                    / F.col("t").cast("decimal(26,12)")
                )
                .cast("decimal(28,12)")
                .alias("s"),
            )
        )
        h_raw = (
            e.join(auth.withColumnRenamed("vid", "dst"), "dst")
            .groupBy(F.col("src").alias("vid"))
            .agg(F.sum("s").alias("raw"))
        )
        h_tot = h_raw.agg(F.sum("raw").alias("t"))
        hub = (
            verts.join(h_raw, "vid", "left")
            .crossJoin(F.broadcast(h_tot))
            .select(
                "vid",
                (
                    F.coalesce(F.col("raw"), F.lit(0).cast("decimal(28,12)"))
                    .cast("decimal(26,12)")
                    / F.col("t").cast("decimal(26,12)")
                )
                .cast("decimal(28,12)")
                .alias("s"),
            )
        )
        if i % 3 == 2:
            hub = hub.localCheckpoint()
            auth = auth.localCheckpoint()
    return (
        verts.join(hub.withColumnRenamed("s", "h"), "vid")
        .join(auth.withColumnRenamed("s", "a"), "vid")
        .select(
            "vid",
            F.round(F.col("h").cast("double"), 6).alias("hub"),
            F.round(F.col("a").cast("double"), 6).alias("authority"),
        )
    )


def _all_vertices(edges: DataFrame) -> DataFrame:
    """Every ``src`` or ``dst`` of ``edges`` once, as ``vid``."""
    return (
        edges.select(F.col("src").alias("vid"))
        .union(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )


def _undirected(edges: DataFrame) -> DataFrame:
    """The simple undirected edge set of ``edges``: one ``(a, b)`` row per
    unordered pair with ``a < b``, self-loops dropped."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _assert_connected(
    edges: DataFrame, verts: DataFrame, n_verts: int, op: str
) -> None:
    """Raise ``ValueError`` unless the edge set satisfies BOTH
    preconditions of :func:`articulation_points` / :func:`bridges`: it
    must be SYMMETRIC (every edge listed in both directions — the
    algorithms' expansion joins traverse raw ``src → dst`` rows, so a
    single-direction input would make every candidate read
    ``n_reached < |V|−1`` and be silently flagged a cut vertex/bridge)
    and UNDIRECTED-CONNECTED (a BFS from the smallest vertex reaches all
    ``n_verts`` vertices — the < |V| verdicts are only meaningful on a
    connected component). The symmetry check is EXCEPT DISTINCT of the
    reversed edge set against the edge set (the algorithms treat the
    frame as a set); checking symmetry FIRST means the connectivity BFS
    can run on the raw rows and still mean undirected connectivity.
    One extra traversal plus one set difference, only when asked for;
    the caller passes its already-derived vertex frame so the guard adds
    no extra vertex derivation."""
    root_row = verts.agg(F.min("vid")).collect()[0][0]
    if root_row is None:
        raise ValueError(f"{op}: empty graph (no vertices)")
    directed = edges.select("src", "dst")
    missing = (
        directed.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        .subtract(directed)
        .limit(1)
        .collect()
    )
    if missing:
        a, b = missing[0]["src"], missing[0]["dst"]
        raise ValueError(
            f"{op}: edge set is not symmetric (e.g. {b}->{a} present "
            f"without {a}->{b}); the what-if traversals walk raw "
            "src->dst rows, so symmetrize your input (list every edge "
            "in both directions) before asking for cut verdicts"
        )
    reached = bfs(directed, start=int(root_row)).count()
    if reached != n_verts:
        raise ValueError(
            f"{op}: graph is disconnected (BFS from {int(root_row)} "
            f"reached {reached} of {n_verts} vertices); the cut verdicts "
            "are only valid per connected component"
        )


def excluded_vertex_reach(
    edges: DataFrame,
    candidates: Sequence[int] | None = None,
    max_candidates: int = 4096,
    max_iter: int = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """What-if reachability with one vertex removed: for every candidate
    vertex ``x``, BFS over the graph minus ``x`` from the smallest
    remaining vertex, ALL candidates carried in ONE level-synchronous
    frontier keyed by ``(excl, vid)`` — the same batched-trees trick as
    :func:`multi_source_bfs_all`, with the exclusion enforced as a
    ``dst != excl`` filter inside the expansion join. Returns
    ``(excl, vid, level)``.

    Undirected input expected (both edge directions listed), as in every
    traversal here. Frontier state is O(candidates × V): the honest
    cost of |candidates| simultaneous BFS trees, which is why
    ``max_candidates`` guards the all-vertices default — for large
    graphs pass an explicit candidate sample (cut-vertex screening over
    high-degree vertices is the usual 100 TB play; exact linear-time
    articulation algorithms are DFS-order-dependent and inherently
    sequential, so batched what-if BFS is the distributed trade)."""
    verts = _all_vertices(edges)
    if candidates is None:
        # count BEFORE any collect: the guard must fire without ever
        # materializing an oversized vertex set on the driver.
        n_verts = verts.count()
        if n_verts > max_candidates:
            raise ValueError(
                f"excluded_vertex_reach: {n_verts} vertices exceed "
                f"max_candidates={max_candidates}; pass an explicit "
                "candidate sample"
            )
        cand_rows = sorted(int(r["vid"]) for r in verts.collect())
    else:
        cand_rows = sorted({int(c) for c in candidates})
    # Root selection needs only the two globally smallest vertex ids
    # (root(x) = min vertex != x), never the full vertex list — with an
    # explicit candidate sample the driver-side footprint stays O(1).
    lo = [
        int(r["vid"]) for r in verts.orderBy("vid").limit(2).collect()
    ]
    first_rows = []
    for x in cand_rows:
        root = next((v for v in lo if v != x), None)
        if root is not None:
            first_rows.append((x, root, 0))
    first = _local_frame(
        edges.sparkSession, first_rows, "excl BIGINT, vid BIGINT, level INT"
    )

    def expand(frontier: DataFrame, e: DataFrame) -> DataFrame:
        return (
            frontier.join(e, frontier["vid"] == e["src"])
            .where(e["dst"] != frontier["excl"])
            .select("excl", e["dst"].alias("vid"))
            .distinct()
        )

    return _frontier_traversal(
        edges, first, ["excl", "vid"], ["excl", "vid"], expand,
        "excluded_vertex_reach", max_iter, stats,
    ).select("excl", "vid", "level")


def articulation_points(
    edges: DataFrame,
    candidates: Sequence[int] | None = None,
    max_candidates: int = 4096,
    max_iter: int = 10_000,
    assert_connected: bool = False,
) -> DataFrame:
    """Articulation (cut) vertices of an undirected graph by batched
    what-if reachability: ``x`` is an articulation point iff removing it
    leaves fewer than |V| − 1 vertices reachable from any survivor
    (assumes the input component is CONNECTED and SIMPLE — on a
    disconnected graph every candidate trivially fails the < |V| − 1
    test and is flagged; for multi-component graphs run per component).
    ``assert_connected=True`` buys the precondition at the cost of one
    extra BFS (from the smallest vertex; raises ``ValueError`` if it
    does not reach all of V) — off by default because the golden
    fixtures carry the contract in their construction. Returns
    ``(vid, n_reached, is_articulation)`` for every candidate.

    All |candidates| exclusion BFS trees ride one frontier
    (:func:`excluded_vertex_reach`); the verdict is a single count
    aggregate against the vertex total."""
    verts = _all_vertices(edges)
    n = verts.count()
    if assert_connected:
        _assert_connected(edges, verts, n, "articulation_points")
    if candidates is None:
        if n > max_candidates:
            raise ValueError(
                f"articulation_points: {n} vertices exceed "
                f"max_candidates={max_candidates}; pass an explicit "
                "candidate sample"
            )
        # reuse the count we already paid for: collect once, pass the
        # explicit list down so the callee never re-collects the set.
        candidates = sorted(int(r["vid"]) for r in verts.collect())
    reach = excluded_vertex_reach(
        edges, candidates, max_candidates, max_iter
    )
    return (
        reach.groupBy(F.col("excl").alias("vid"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_reached"))
        .select(
            "vid",
            "n_reached",
            F.when(F.col("n_reached") < F.lit(n - 1), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_articulation"),
        )
    )


def bridges(
    edges: DataFrame,
    candidates: Sequence[tuple[int, int]] | None = None,
    max_edges: int = 4096,
    max_iter: int = 10_000,
    assert_connected: bool = False,
) -> DataFrame:
    """Bridge (cut) edges of a CONNECTED SIMPLE undirected graph by
    batched what-if reachability: undirected edge {a, b} is a bridge iff
    with it removed, a BFS from ``a`` no longer reaches all |V|
    vertices. One frontier carries every candidate edge's BFS keyed by
    the canonical (a < b) edge id; the expansion join drops the excluded
    edge (both directions). Returns ``(src, dst, n_reached, is_bridge)``
    with src < dst.

    Contract: on a DISCONNECTED graph every candidate is flagged (the
    < |V| test fails vacuously) — ``assert_connected=True`` verifies
    reachability with one extra BFS and raises instead. The edge
    DataFrame is treated as a SET: a parallel (duplicated) edge is the
    same row, so the exclusion removes every copy and a deliberate
    multigraph duplicate would still read as a bridge; callers with
    multiplicity semantics must pre-reduce to the 2-edge-connected
    simple core themselves.

    O(E) simultaneous trees — ``max_edges`` guards the all-edges
    default; at scale screen first (an edge inside any triangle is never
    a bridge, so 2-hop filtering prunes most of E) and pass the
    survivors via ``candidates``."""
    # one vertex-set materialization serves the n-total AND the guard
    verts = _all_vertices(edges)
    n = verts.count()
    if assert_connected:
        _assert_connected(edges, verts, n, "bridges")
    if candidates is None:
        und = (
            edges.select("src", "dst")
            .where(F.col("src") < F.col("dst"))
            .distinct()
        )
        # count BEFORE collect so the guard fires without materializing
        # an oversized edge list on the driver.
        n_edges = und.count()
        if n_edges > max_edges:
            raise ValueError(
                f"bridges: {n_edges} candidate edges exceed "
                f"max_edges={max_edges}; pass the screened candidates "
                "(an edge inside any triangle is never a bridge)"
            )
        cand = sorted(
            (int(r["src"]), int(r["dst"])) for r in und.collect()
        )
    else:
        cand = sorted(
            (min(int(a), int(b)), max(int(a), int(b)))
            for a, b in candidates
        )
    first = _local_frame(
        edges.sparkSession,
        [(a, b, a, 0) for a, b in cand],
        "ea BIGINT, eb BIGINT, vid BIGINT, level INT",
    )

    def expand(frontier: DataFrame, e: DataFrame) -> DataFrame:
        keep = ~(
            ((e["src"] == frontier["ea"]) & (e["dst"] == frontier["eb"]))
            | ((e["src"] == frontier["eb"]) & (e["dst"] == frontier["ea"]))
        )
        return (
            frontier.join(e, frontier["vid"] == e["src"])
            .where(keep)
            .select("ea", "eb", e["dst"].alias("vid"))
            .distinct()
        )

    reach = _frontier_traversal(
        edges, first, ["ea", "eb", "vid"], ["ea", "eb", "vid"], expand,
        "bridges", max_iter,
    )
    return (
        reach.groupBy(F.col("ea").alias("src"), F.col("eb").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_reached"))
        .select(
            "src",
            "dst",
            "n_reached",
            F.when(F.col("n_reached") < F.lit(n), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_bridge"),
        )
    )
