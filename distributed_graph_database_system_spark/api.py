"""Engine facade — the reference's client surface on Spark.

The reference exposes exactly four operations through its REPL client menu
(``client.c:26-31``): 1 add graph, 2 modify graph, 3 DFS, 4 BFS. ``Engine``
is the drop-in equivalent: a user of the reference maps each menu choice to
one method here, with the 30-vertex / 256-byte caps lifted. The extended
analytics (relational, LLM, streaming) live in ``queries/`` and
``operators/`` and share the same session and graph store.

Size rule for DFS and BFS: a stored graph of at most ``G.MAX_COLLECT_EDGES``
edges is traversed on the driver, since at the reference's 30-vertex scale
the distributed frontier loop costs Spark jobs, not data; a larger graph
runs the distributed ``G.bfs`` / ``G.dfs_leaves``. The first read of a graph
makes one guarded collect of its edge list, ``limit(G.MAX_COLLECT_EDGES +
1)``, which is also the size probe: one Spark job. The engine keeps the
collected adjacency and serves later reads from it, with no Spark job, for
as long as the store's file listing of the graph is unchanged; any add or
modify, from any engine or process, changes that listing. The store refuses
edges with a null endpoint, so every collected row is a pair of vertex ids.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from distributed_graph_database_system_spark.operators import graph as G


class Engine:
    def __init__(self, spark: SparkSession, graph_root: str):
        self.spark = spark
        self.store = G.GraphStore(spark, graph_root)
        # name -> (store listing, edge count, driver adjacency), least
        # recently used first; at most G.MAX_COLLECT_EDGES edges in all
        self._adjacency: OrderedDict[str, tuple[tuple, int, dict]] = OrderedDict()
        self._adjacency_edges = 0
        self._adjacency_lock = threading.Lock()

    # -- op 1: AddGraph (primaryServer.c:14-80) -----------------------------
    def add_graph(self, name: str, n: int, matrix: Sequence[Sequence[int]]) -> str:
        self.store.add_matrix(name, n, matrix)
        return "File successfully added"  # ack text: primaryServer.c:59-60

    def add_graph_edges(self, name: str, edges: DataFrame) -> str:
        self.store.add(name, edges)
        return "File successfully added"

    # -- op 2: ModifyGraph = full overwrite (primaryServer.c:40-63) ---------
    def modify_graph(self, name: str, n: int, matrix: Sequence[Sequence[int]]) -> str:
        self.store.modify_matrix(name, n, matrix)
        return "File successfully modified"

    def modify_graph_edges(self, name: str, edges: DataFrame) -> str:
        self.store.modify(name, edges)
        return "File successfully modified"

    def _small_adjacency(self, name: str) -> dict[int, list[int]] | None:
        """Graph ``name`` as a ``G.driver_adjacency`` when it has at most
        ``G.MAX_COLLECT_EDGES`` edges (read at call time); otherwise ``None``.

        The store's listing of ``name`` is taken *before* the guarded
        collect and kept with its result, so a write that races the collect
        at worst costs the next read a miss. Nothing is cached at write
        time: Spark's overwrite is not atomic, and a listing taken after our
        own write cannot tell our files from a concurrent writer's. A
        listing that raises (missing graph or root) skips the cache and lets
        the read raise as it would without one."""
        cap = G.MAX_COLLECT_EDGES
        try:
            listing = self.store.listing(name)
        except Py4JJavaError:
            listing = None
        with self._adjacency_lock:
            entry = self._adjacency.pop(name, None)
            if entry is not None:
                if entry[0] == listing and entry[1] <= cap:
                    self._adjacency[name] = entry  # now most recently used
                    return entry[2]
                self._adjacency_edges -= entry[1]
        rows = self.store.load(name).select("src", "dst").limit(cap + 1).collect()
        if len(rows) > cap:
            return None
        adj = G.driver_adjacency(rows)
        if listing is not None:
            with self._adjacency_lock:
                old = self._adjacency.pop(name, None)
                if old is not None:  # a concurrent read of the same name
                    self._adjacency_edges -= old[1]
                self._adjacency[name] = (listing, len(rows), adj)
                self._adjacency_edges += len(rows)
                while self._adjacency_edges > cap:
                    _, evicted = self._adjacency.popitem(last=False)
                    self._adjacency_edges -= evicted[1]
        return adj

    def _bfs(self, name: str, start: int) -> list[tuple[int, int]] | DataFrame:
        adj = self._small_adjacency(name)
        if adj is None:
            return G.bfs(self.store.load(name), start)
        return G.driver_bfs(adj, start)

    def _dfs(self, name: str, start: int) -> list[tuple[int]] | DataFrame:
        adj = self._small_adjacency(name)
        if adj is None:
            return G.dfs_leaves(self.store.load(name), start)
        return [(v,) for v in G.driver_dfs_leaves(adj, start)]

    def _frame(self, rows: list[tuple] | DataFrame, schema: str) -> DataFrame:
        if isinstance(rows, DataFrame):
            return rows
        return G._local_frame(self.spark, rows, schema)

    # -- op 3: DFS leaf-set (secondaryServer.c:56-108) ----------------------
    def dfs(self, name: str, start: int) -> DataFrame:
        return self._frame(self._dfs(name, start), "vid BIGINT")

    def dfs_text(self, name: str, start: int) -> str:
        """Space-joined 1-indexed leaf list — the reference's wire format
        (secondaryServer.c:284-295), without its 256-byte cap."""
        return _vid_text(self._dfs(name, start))

    # -- op 4: BFS level order (secondaryServer.c:111-179) ------------------
    def bfs(self, name: str, start: int) -> DataFrame:
        return self._frame(self._bfs(name, start), "vid BIGINT, level INT")

    def bfs_text(self, name: str, start: int) -> str:
        return _vid_text(self._bfs(name, start))

    # -- beyond the reference: Pregel-style analytics on stored graphs ------
    def degrees(self, name: str) -> DataFrame:
        return G.degrees(self.store.load(name))

    def connected_components(self, name: str) -> DataFrame:
        return G.connected_components(self.store.load(name))

    def pagerank(self, name: str, **kw) -> DataFrame:
        return G.pagerank(self.store.load(name), **kw)

    def shortest_paths(self, name: str, start: int) -> DataFrame:
        return G.shortest_path_lengths(self.store.load(name), start)


def _vid_text(rows: list[tuple] | DataFrame) -> str:
    """The first column (``vid``) of ``rows``, space-joined."""
    if isinstance(rows, DataFrame):
        rows = rows.collect()
    return " ".join(str(r[0]) for r in rows)
