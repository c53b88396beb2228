"""Engine facade — the reference's client surface on Spark.

The reference exposes exactly four operations through its REPL client menu
(``client.c:26-31``): 1 add graph, 2 modify graph, 3 DFS, 4 BFS. ``Engine``
is the drop-in equivalent: a user of the reference maps each menu choice to
one method here, with the 30-vertex / 256-byte caps lifted. The extended
analytics (relational, LLM, streaming) live in ``queries/`` and
``operators/`` and share the same session and graph store.

Size rule for DFS and BFS: each call makes one guarded collect of the stored
edge list, ``limit(G.MAX_COLLECT_EDGES + 1)``, which is also the size probe.
A graph at or under the cap is traversed on the driver, one Spark job in
all: at the reference's 30-vertex scale the distributed frontier loop costs
Spark jobs, not data. A larger graph runs the distributed ``G.bfs`` /
``G.dfs_leaves``. The store refuses edges with a null endpoint, so every
collected row is a pair of vertex ids.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from distributed_graph_database_system_spark.operators import graph as G


class Engine:
    def __init__(self, spark: SparkSession, graph_root: str):
        self.spark = spark
        self.store = G.GraphStore(spark, graph_root)

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

    def _driver_adjacency(self, edges: DataFrame) -> dict[int, list[int]] | None:
        """``edges`` as a ``G.driver_adjacency`` when they fit under the cap
        (read at call time); otherwise ``None``."""
        cap = G.MAX_COLLECT_EDGES
        rows = edges.select("src", "dst").limit(cap + 1).collect()
        if len(rows) > cap:
            return None
        return G.driver_adjacency(rows)

    # -- op 3: DFS leaf-set (secondaryServer.c:56-108) ----------------------
    def dfs(self, name: str, start: int) -> DataFrame:
        edges = self.store.load(name)
        adj = self._driver_adjacency(edges)
        if adj is None:
            return G.dfs_leaves(edges, start)
        leaves = G.driver_dfs_leaves(adj, start)
        return G._local_frame(self.spark, [(v,) for v in leaves], "vid BIGINT")

    def dfs_text(self, name: str, start: int) -> str:
        """Space-joined 1-indexed leaf list — the reference's wire format
        (secondaryServer.c:284-295), without its 256-byte cap."""
        return " ".join(str(r.vid) for r in self.dfs(name, start).collect())

    # -- op 4: BFS level order (secondaryServer.c:111-179) ------------------
    def bfs(self, name: str, start: int) -> DataFrame:
        edges = self.store.load(name)
        adj = self._driver_adjacency(edges)
        if adj is None:
            return G.bfs(edges, start)
        return G._local_frame(
            self.spark, G.driver_bfs(adj, start), "vid BIGINT, level INT"
        )

    def bfs_text(self, name: str, start: int) -> str:
        return " ".join(str(r.vid) for r in self.bfs(name, start).collect())

    # -- beyond the reference: Pregel-style analytics on stored graphs ------
    def degrees(self, name: str) -> DataFrame:
        return G.degrees(self.store.load(name))

    def connected_components(self, name: str) -> DataFrame:
        return G.connected_components(self.store.load(name))

    def pagerank(self, name: str, **kw) -> DataFrame:
        return G.pagerank(self.store.load(name), **kw)

    def shortest_paths(self, name: str, start: int) -> DataFrame:
        return G.shortest_path_lengths(self.store.load(name), start)
