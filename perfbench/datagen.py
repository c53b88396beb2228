"""Seeded inputs for the benchmark: the fixture tables and the graph stream.

Everything here is a pure function of the seed. The tables follow the
fixture schema of FIXTURES.md §A at sf0.1 (same columns, types, key domains,
categorical values and date ranges), so every headline query and its DuckDB
oracle run on them unchanged. Row counts do not depend on the seed: a seed
changes values, never the amount of work.

Graphs follow the reference's data model (FIXTURES.md §B): at most 30
vertices, 1-indexed, directed 0/1 adjacency matrix. Each graph is built
around a BFS depth taken from a fixed schedule, so the seed changes wiring
and density but not the number of BFS levels an op walks.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the fixture tables
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
# Row groups per table, so scans split to the core count (TESTDATA.md).
ROW_GROUPS = {
    "lineitem": 64,
    "orders": 32,
    "events": 32,
    "documents": 16,
    "embeddings": 16,
    "customer": 8,
    "part": 8,
    "supplier": 4,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a the data spark scan join filter group agg sort merge hash window key "
    "value row column table query order customer part line stream batch "
    "vector fast slow big small"
).split()
EMBED_DIM = 64
NEAR_DUPS, EXACT_DUPS = 250, 8  # planted documents (the fixture has 250 " dup" copies)


def _days(lo: str, hi: str, rng: np.random.Generator, n: int) -> np.ndarray:
    start, end = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((end - start).astype(int))
    return (start + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator) -> dict[str, list]:
    """Random word-salad documents plus planted copies of distinct
    originals: ``NEAR_DUPS`` with " dup" appended (word-3-gram Jaccard >=
    8/9) and ``EXACT_DUPS`` verbatim. The counts are fixed, so the dedup
    work does not depend on the seed."""
    n, m = ROWS["documents"], NEAR_DUPS + EXACT_DUPS
    originals = [
        " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 101))))
        for _ in range(n - m)
    ]
    sources = rng.choice(n - m, m, replace=False)  # distinct: no copy of a copy
    copies = [originals[s] + (" dup" if k < NEAR_DUPS else "") for k, s in enumerate(sources)]
    at = dict(zip(rng.choice(np.arange(100, n), m, replace=False).tolist(), copies))
    rest = iter(originals)
    texts = [at[i] if i in at else next(rest) for i in range(n)]
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": list(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    r = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = r["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )
    n = r["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = r["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1),
        }
    )
    n = r["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": rng.integers(0, r["customer"], n, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days("1995-01-01", "2001-08-01", rng, n),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )
    n = r["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, r["orders"], n, dtype=np.int64),
            "l_partkey": rng.integers(0, r["part"], n, dtype=np.int64),
            "l_suppkey": rng.integers(0, r["supplier"], n, dtype=np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _days("1995-01-02", "2001-11-04", rng, n),
        }
    )
    n = r["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": rng.integers(0, 1500, n, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    out["documents"] = pa.table(_documents(rng))
    n = r["embeddings"]
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )
    return out


def write_tables(seed: int, sf_dir: str) -> None:
    """Write every table as ``<sf_dir>/<name>.parquet`` (snappy, bounded row
    groups), the layout ``sources.catalog`` reads."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables(seed).items():
        groups = ROW_GROUPS.get(name, 1)
        pq.write_table(
            table,
            os.path.join(sf_dir, f"{name}.parquet"),
            row_group_size=-(-table.num_rows // groups),
            compression="snappy",
        )


# --------------------------------------------------------------------------
# Graph stream
# --------------------------------------------------------------------------

MAX_VERTICES = 30  # the reference's cap (utils.h:26)
# BFS depths of the two graphs each pass writes and reads: one shallow and
# dense, one deep and chain-like.
DEPTHS = (2, 5)


@dataclass(frozen=True)
class Graph:
    n: int
    matrix: tuple[tuple[int, ...], ...]
    start: int  # 1-indexed BFS/DFS start vertex


def layered_graph(rng: random.Random, depth: int) -> Graph:
    """A digraph whose BFS from ``start`` reaches exactly ``depth`` levels
    beyond the start. Vertices are spread over ``depth + 1`` layers; every
    vertex in layer i+1 gets an edge from layer i, extra edges only go within
    a layer or backwards, and a few vertices stay unreachable. Deep graphs
    have thin layers (chain-like); shallow ones are wide and dense."""
    n = rng.randint(max(depth + 3, 12), MAX_VERTICES)
    ids = list(range(1, n + 1))
    rng.shuffle(ids)
    unreachable = ids[: rng.randint(1, 3)]
    reach = ids[len(unreachable) :]
    layers = [[reach[0]]] + [[v] for v in reach[1 : depth + 1]]
    for v in reach[depth + 1 :]:
        layers[rng.randint(1, depth)].append(v)
    edges: set[tuple[int, int]] = set()
    for i in range(1, len(layers)):
        for v in layers[i]:
            edges.add((rng.choice(layers[i - 1]), v))
    level = {v: i for i, layer in enumerate(layers) for v in layer}
    density = rng.uniform(0.1, 0.3) if depth <= 2 else rng.uniform(0.01, 0.06)
    for u in reach:
        for v in reach:
            # within a layer or backwards only: a shortcut past the next
            # layer would make the graph shallower than ``depth``
            if u != v and level[v] <= level[u] + 1 and rng.random() < density:
                edges.add((u, v))
    for u in unreachable:
        for v in rng.sample(ids, 2):
            if u != v:
                edges.add((u, v))
    matrix = tuple(
        tuple(1 if (i, j) in edges else 0 for j in range(1, n + 1))
        for i in range(1, n + 1)
    )
    return Graph(n=n, matrix=matrix, start=reach[0])


@dataclass(frozen=True)
class Op:
    kind: str  # "add" | "modify" | "bfs" | "dfs"
    name: str
    graph: Graph  # written by a write; what a read must find


def initial_graph(seed: int) -> Graph:
    """The graph the store holds before the timed ops. It is deep, so the
    set-up's warm-up walks every BFS level count a timed op walks: Spark
    generates and compiles code once per plan shape, and each level count
    is a new shape."""
    return layered_graph(random.Random(seed), DEPTHS[-1])


def graph_ops_pass(seed: int, pass_no: int, names: list[str]) -> list[Op]:
    """One pass of the graph_ops stream, one write to two reads: an ``add``
    of a fresh graph and a ``modify`` of an existing one, then a BFS and a
    DFS on each of the two, which must see what was just written. The added
    graph is shallow and the modified one deep (``DEPTHS``): the seed picks
    wiring, size and density, but every pass walks the same number of BFS
    levels. ``names`` (the graphs that exist) grows by one per pass."""
    rng = random.Random(seed * 1_000_003 + pass_no)
    fresh, target = f"p{pass_no}", rng.choice(names)
    names.append(fresh)
    g_fresh, g_target = (layered_graph(rng, d) for d in DEPTHS)
    return [
        Op("add", fresh, g_fresh),
        Op("modify", target, g_target),
        Op("bfs", fresh, g_fresh),
        Op("dfs", target, g_target),
        Op("dfs", fresh, g_fresh),
        Op("bfs", target, g_target),
    ]
