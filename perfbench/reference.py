"""Pure-Python answers the benchmark checks the program's outputs against.

BFS and DFS follow the canonical semantics of FIXTURES.md §B: vertices are
1-indexed, neighbours are visited in ascending order, BFS lists every
reachable vertex by (level, vid) with the start included, and DFS emits the
vertices that spawned no recursive visit, never the start.
"""

from __future__ import annotations

import re
from collections import deque
from collections.abc import Iterable, Sequence


def adjacency(edges: Iterable[tuple[int, int]]) -> dict[int, list[int]]:
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    return {v: sorted(ws) for v, ws in adj.items()}


def matrix_edges(matrix: Sequence[Sequence[int]]) -> list[tuple[int, int]]:
    """Cell [i][j] == 1 is the directed edge i+1 -> j+1."""
    return [
        (i + 1, j + 1)
        for i, row in enumerate(matrix)
        for j, cell in enumerate(row)
        if cell
    ]


def bfs_levels(adj: dict[int, list[int]], start: int) -> list[tuple[int, int]]:
    """``(vid, level)`` for every vertex reachable from ``start``."""
    level = {start: 0}
    queue = deque([start])
    while queue:
        v = queue.popleft()
        for w in adj.get(v, ()):
            if w not in level:
                level[w] = level[v] + 1
                queue.append(w)
    return sorted(level.items(), key=lambda kv: (kv[1], kv[0]))


def dfs_leaves(adj: dict[int, list[int]], start: int) -> set[int]:
    visited, leaves = {start}, set()
    stack = [(start, 0, 0)]  # (vertex, next neighbour index, visits spawned)
    while stack:
        v, i, spawned = stack.pop()
        nbrs = adj.get(v, ())
        while i < len(nbrs) and nbrs[i] in visited:
            i += 1
        if i < len(nbrs):
            visited.add(nbrs[i])
            stack.append((v, i + 1, spawned + 1))
            stack.append((nbrs[i], 0, 0))
        elif spawned == 0 and v != start:
            leaves.add(v)
    return leaves


def bfs_text(matrix: Sequence[Sequence[int]], start: int) -> str:
    """The exact string ``Engine.bfs_text`` must return."""
    order = bfs_levels(adjacency(matrix_edges(matrix)), start)
    return " ".join(str(v) for v, _ in order)


def dfs_text(matrix: Sequence[Sequence[int]], start: int) -> str:
    """The exact string ``Engine.dfs_text`` must return (ascending leaves)."""
    leaves = dfs_leaves(adjacency(matrix_edges(matrix)), start)
    return " ".join(str(v) for v in sorted(leaves))


# --- near-duplicate pairs (dedup_minhash_lsh) --------------------------------


def word_shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams, the shingles ``operators.dedup`` verifies
    candidates with: lower-cased, split on ASCII whitespace, and the whole
    text as one shingle when it has fewer than ``n`` tokens."""
    t = re.sub(r"^\s+|\s+$", "", (text or "").lower(), flags=re.ASCII)
    toks = re.split(r"\s+", t, flags=re.ASCII) if t else []
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def planted_pairs(texts: dict[int, str]) -> list[tuple[int, int]]:
    """Pairs the data generator planted: identical texts, and a text equal
    to another one plus " dup"."""
    by_text: dict[str, list[int]] = {}
    for i in sorted(texts):
        by_text.setdefault(texts[i], []).append(i)
    pairs = []
    for text, ids in by_text.items():
        pairs += [(a, b) for k, a in enumerate(ids) for b in ids[k + 1 :]]
        if text.endswith(" dup"):
            pairs += [(a, b) for a in by_text.get(text[:-4], ()) for b in ids]
    return pairs


def check_near_dup_pairs(
    pairs: Iterable[tuple[int, int, float]],
    texts: dict[int, str],
    planted: Iterable[tuple[int, int]],
    threshold: float = 0.7,
    min_recall: float = 0.9,
) -> list[str]:
    """Check LSH output ``(id_a, id_b, jaccard)`` without an all-pairs join.

    Precision is exact: each pair must be ordered, unique, at or above the
    threshold, and carry its true Jaccard rounded to 4 places. Recall is
    checked on the pairs the data generator planted: every identical pair
    has Jaccard 1 and lands in every band, so it must be found; near
    duplicates (Jaccard >= 8/9) are found with probability > 0.999 each,
    so at least ``min_recall`` of them must be."""
    problems: list[str] = []
    seen: set[tuple[int, int]] = set()
    shingles: dict[int, set[str]] = {}

    def sh(i: int) -> set[str]:
        if i not in shingles:
            shingles[i] = word_shingles(texts[i])
        return shingles[i]

    for a, b, j in pairs:
        if not a < b or (a, b) in seen:
            problems.append(f"pair ({a}, {b}) unordered or repeated")
            continue
        seen.add((a, b))
        true_j = jaccard(sh(a), sh(b))
        if true_j < threshold or abs(round(true_j, 4) - j) > 1e-9:
            problems.append(f"pair ({a}, {b}): jaccard {j}, true {true_j:.6f}")
    near = exact = found_near = 0
    for a, b in planted:
        key = (min(a, b), max(a, b))
        if texts[a] == texts[b]:
            exact += 1
            if key not in seen:
                problems.append(f"identical pair {key} missing")
        else:
            near += 1
            found_near += key in seen
    if near and found_near < min_recall * near:
        problems.append(f"near-duplicate recall {found_near}/{near}")
    return problems
