"""Hypothesis property tests: randomized graphs and documents checked against
pure-Python reference implementations. Example counts are kept small — every
example runs real Spark jobs."""

from __future__ import annotations

import os
import zlib

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from distributed_graph_database_system_spark.operators.dedup import shingle_hash_udf
from distributed_graph_database_system_spark.operators.graph import bfs, dfs_leaves
from tests.test_graph import py_bfs, py_dfs_leaves, to_adj

SPARK_SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def digraphs(draw):
    n = draw(st.integers(min_value=1, max_value=10))
    possible = [(i, j) for i in range(1, n + 1) for j in range(1, n + 1) if i != j]
    edges = draw(st.lists(st.sampled_from(possible), max_size=30, unique=True)) if possible else []
    start = draw(st.integers(min_value=1, max_value=n))
    return n, edges, start


@given(g=digraphs())
@SPARK_SETTINGS
def test_traversals_match_python_reference(spark, g):
    n, edges, start = g
    df = spark.createDataFrame(edges or [], "src BIGINT, dst BIGINT")
    adj = to_adj(edges)

    got_bfs = [(r.vid, r.level) for r in bfs(df, start).collect()]
    assert got_bfs == py_bfs(adj, start)

    got_leaves = {r.vid for r in dfs_leaves(df, start).collect()}
    assert got_leaves == py_dfs_leaves(adj, start)


@st.composite
def stored_digraphs(draw):
    """Edge lists with duplicate edges and self-loops; vertex ``n + 1`` has
    no edges at all."""
    n = draw(st.integers(min_value=1, max_value=10))
    vid = st.integers(min_value=1, max_value=n)
    edges = draw(st.lists(st.tuples(vid, vid), max_size=30))
    return n, edges, draw(vid)


@given(g=stored_digraphs())
# levels of several vertices, a duplicate edge and a self-loop on every run
@example(g=(5, [(1, 4), (1, 3), (1, 2), (1, 2), (2, 2), (3, 5), (2, 5), (4, 1)], 1))
@SPARK_SETTINGS
def test_engine_traversals_match_python_reference(spark, tmp_path, monkeypatch, g):
    """``Engine.bfs_text`` / ``dfs_text`` over graphs written through
    ``add_graph_edges`` equal the pure-Python references, served on the
    driver under the default cap and by ``G.bfs`` / ``G.dfs_leaves`` under
    cap 0."""
    import uuid

    from distributed_graph_database_system_spark.api import Engine
    from distributed_graph_database_system_spark.operators import graph as G

    n, edges, start = g
    eng = Engine(spark, str(tmp_path))
    name = f"g{uuid.uuid4().hex}"
    eng.add_graph_edges(name, spark.createDataFrame(edges, "src BIGINT, dst BIGINT"))
    adj = to_adj(edges)
    # a distributed read costs seconds: check the edge-free start on the
    # driver path only
    for cap, starts in ((G.MAX_COLLECT_EDGES, (start, n + 1)), (0, (start,))):
        monkeypatch.setattr(G, "MAX_COLLECT_EDGES", cap)
        for s in starts:
            want_bfs = " ".join(str(v) for v, _ in py_bfs(adj, s))
            want_dfs = " ".join(str(v) for v in sorted(py_dfs_leaves(adj, s)))
            assert eng.bfs_text(name, s) == want_bfs, (cap, s)
            assert eng.dfs_text(name, s) == want_dfs, (cap, s)


def test_store_rejects_null_endpoint_and_writes_nothing(spark, tmp_path):
    """A null ``src`` or ``dst`` is refused at the store's write door,
    before anything is written: a rejected add leaves no graph directory,
    a rejected modify keeps the stored graph."""
    from distributed_graph_database_system_spark.api import Engine

    eng = Engine(spark, str(tmp_path))
    null_dst = spark.createDataFrame(
        [(1, 2), (2, None), (1, 3)], "src BIGINT, dst BIGINT"
    )
    with pytest.raises(ValueError, match="null src or dst"):
        eng.add_graph_edges("g", null_dst)
    assert not eng.store.exists("g")
    assert not os.path.exists(tmp_path / "g")

    eng.add_graph("g", 3, [[0, 1, 1], [0, 0, 0], [0, 0, 0]])
    null_src = null_dst.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    with pytest.raises(ValueError, match="null src or dst"):
        eng.modify_graph_edges("g", null_src)
    assert eng.bfs_text("g", 1) == "1 2 3"


def _py_shingle_hashes(text: str, n: int = 3) -> set[int]:
    P, B = 2_147_483_647, 1_000_003
    toks = text.strip().lower().split()
    if len(toks) < n:
        return {zlib.crc32(" ".join(toks).encode()) % P}
    out = set()
    for i in range(len(toks) - n + 1):
        acc = 0
        for j in range(n):
            acc = (acc * B + zlib.crc32(toks[i + j].encode())) % P
        out.add(acc)
    return out


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab cd"),
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
@SPARK_SETTINGS
def test_shingle_hash_udf_matches_python(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = {
        r.doc_id: set(r.h)
        for r in df.select(
            "doc_id", shingle_hash_udf(3)(F.col("text")).alias("h")
        ).collect()
    }
    for i, t in rows:
        assert got[i] == _py_shingle_hashes(t), (i, t)


@st.composite
def grouped_int_sets(draw):
    """Two slices of grouped integer values with overlap."""
    vals_a = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2),
                st.integers(min_value=0, max_value=5000),
            ),
            min_size=1,
            max_size=60,
        )
    )
    vals_b = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2),
                st.integers(min_value=0, max_value=5000),
            ),
            min_size=1,
            max_size=60,
        )
    )
    k = draw(st.sampled_from([1, 4, 16]))
    return vals_a, vals_b, k


@given(g=grouped_int_sets())
@SPARK_SETTINGS
def test_kmv_semilattice_and_exactness_property(spark, g):
    """Bottom-k is a semilattice: merge(sketch(A), sketch(B)) equals
    sketch(A ∪ B) row-for-row on arbitrary grouped slices; and a group
    with < k distinct values is represented EXACTLY (its estimate is the
    true distinct count). Reference model is pure python over the same
    md5-60bit hash."""
    import hashlib

    from distributed_graph_database_system_spark.operators.sketch import (
        kmv_distinct_estimate,
        kmv_merge,
        kmv_sketch,
    )

    vals_a, vals_b, k = g
    df_a = spark.createDataFrame(vals_a, "g INT, v BIGINT")
    df_b = spark.createDataFrame(vals_b, "g INT, v BIGINT")
    sk_a = kmv_sketch(df_a, "v", k=k, group_cols=("g",))
    sk_b = kmv_sketch(df_b, "v", k=k, group_cols=("g",))
    merged = {
        (r.g, r.h)
        for r in kmv_merge(sk_a, sk_b, k=k, group_cols=("g",)).collect()
    }
    whole = {
        (r.g, r.h)
        for r in kmv_sketch(
            df_a.unionAll(df_b), "v", k=k, group_cols=("g",)
        ).collect()
    }
    assert merged == whole

    def h60(v: int) -> int:
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    model: dict[int, set[int]] = {}
    for gg, v in vals_a + vals_b:
        model.setdefault(gg, set()).add(h60(v))
    want = {
        (gg, h)
        for gg, hs in model.items()
        for h in sorted(hs)[:k]
    }
    assert whole == want

    est = {
        r.g: r.est_distinct
        for r in kmv_distinct_estimate(
            kmv_sketch(df_a.unionAll(df_b), "v", k=k, group_cols=("g",)),
            k=k,
            group_cols=("g",),
        ).collect()
    }
    for gg, hs in model.items():
        if len(hs) < k:
            assert est[gg] == float(len(hs))


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 48),
    h=st.integers(1, 40),
    q0=st.sampled_from([8, 16, 24]),
    density=st.floats(0.0, 0.9),
    seed=st.integers(0, 10_000),
    color=st.booleans(),
    sub=st.sampled_from(["444", "422", "440", "420"]),
    dri=st.sampled_from([0, 0, 1, 3]),
)
def test_jpeg_progressive_equals_baseline_property(
    w, h, q0, density, seed, color, sub, dri
):
    """Pure-python property (no Spark): for ANY coefficient field, the
    progressive (SOF2) encoding decodes to exactly the baseline stats —
    the two decode paths share only the IDCT, so agreement pins the
    whole successive-approximation protocol (and, via dri, the restart
    machinery on the baseline side)."""
    import random

    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_jpeg,
        make_jpeg,
        make_jpeg_progressive,
    )

    def dc(bx, by):
        return random.Random(f"{seed}-{bx}-{by}-d").randint(-200, 200)

    def ac(bx, by):
        r = random.Random(f"{seed}-{bx}-{by}-a")
        out = {}
        for k in range(1, 64):
            if r.random() < density:
                v = r.randint(-40, 40)
                if v:
                    out[k] = v
        return out

    def cdc(mx, my):
        r = random.Random(f"{seed}-{mx}-{my}-c")
        return (r.randint(-60, 60), r.randint(-60, 60))

    kw = dict(width=w, height=h, dc_fn=dc, ac_fn=ac, q0=q0)
    if color:
        kw.update(color=True, chroma_dc_fn=cdc, subsampling=sub)
    base = _deep_jpeg(make_jpeg(restart_interval=dri, **kw))
    prog = _deep_jpeg(make_jpeg_progressive(**kw))
    assert base is not None and base == prog


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 32),
    ct=st.sampled_from([0, 2, 3, 4, 6]),
    seed=st.integers(0, 10_000),
    interlace=st.booleans(),
)
def test_png_decode_matches_expected_property(w, h, ct, seed, interlace):
    """Pure-python property: for ANY pixel field, color type and layout
    (sequential or Adam7), _deep_png's first-channel stats equal the
    directly-computed expectation — pinning the bpp-offset filters, the
    pass partition and the PLTE mapping in one sweep."""
    import random

    from distributed_graph_database_system_spark.operators.multimodal import (
        _PNG_BPP,
        _deep_png,
        make_png_color,
    )

    bpp = _PNG_BPP[ct]
    rng = random.Random(seed)
    pal = bytes(rng.randrange(256) for _ in range(3 * 64)) if ct == 3 else None

    def px(x, y):
        r = random.Random(f"{seed}-{x}-{y}")
        if ct == 3:
            return r.randrange(64)
        return tuple(r.randrange(256) for _ in range(bpp))

    blob = make_png_color(w, h, ct, px, palette=pal, interlace=interlace)
    chan = []
    for y in range(h):
        for x in range(w):
            v = px(x, y)
            chan.append(pal[3 * v] if ct == 3 else v[0])
    got = _deep_png(blob)
    assert got == {
        "px_sum": sum(chan),
        "px_min": min(chan),
        "px_max": max(chan),
        "n_px": w * h,
    }


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 32),
    seed=st.integers(0, 10_000),
    interlace=st.booleans(),
)
def test_png_gray_full_grid_property(w, h, seed, interlace):
    """Pure-python property: _png_gray_pixels recovers the EXACT
    row-major pixel grid for any pixel field under BOTH layouts — the
    positional contract image_dhash rests on (deinterlacing must place
    every Adam7 pass pixel at its true (x, y), not merely preserve the
    multiset the stats path needs)."""
    import random

    from distributed_graph_database_system_spark.operators.multimodal import (
        _png_gray_pixels,
        make_png_color,
    )

    def px(x, y):
        return (random.Random(f"{seed}-{x}-{y}").randrange(256),)

    blob = make_png_color(w, h, 0, px, interlace=interlace)
    got = _png_gray_pixels(blob)
    assert got is not None
    gw, gh, grid = got
    assert (gw, gh) == (w, h)
    want = bytes(px(x, y)[0] for y in range(h) for x in range(w))
    assert bytes(grid) == want


def test_percentile_disc_rank_rule_at_adversarial_float_boundaries(spark):
    """The one soft spot of group_quantiles_disc's rank rule is the IEEE
    product q·n at exact-rational boundaries: for q = 9/11 and n = 77 the
    exact product is 63 but the double product is 63.000000000000014, so
    the ceil(q·n) rule picks rank 64 while the textbook cume_dist rule
    (smallest r with r/n ≥ q) picks 63. Both Spark's builtin
    PERCENTILE_DISC and DuckDB's sit on the PRODUCT side of every such
    boundary (verified here on real data), which is exactly the
    expression group_quantiles_disc evaluates — so all three agree at the
    adversarial cases, and the cume_dist mental model is the one that's
    wrong. Cases chosen from an exhaustive sweep of q = j/denom,
    denom ≤ 40, n ≤ 2000 where the two rules diverge."""
    import duckdb

    from distributed_graph_database_system_spark.operators.quantile import (
        _qcolname,
        group_quantiles_disc,
    )

    cases = [(9 / 11, 77), (7 / 12, 108), (9 / 14, 42), (3 / 17, 85)]
    con = duckdb.connect()
    for q, n in cases:
        df = spark.range(1, n + 1).selectExpr(
            "'g' AS g", "CAST(id AS DOUBLE) AS v"
        )
        mine = group_quantiles_disc(df, "v", [q], ["g"]).first()[_qcolname(q)]
        df.createOrReplaceTempView("t_adv")
        builtin = spark.sql(
            f"SELECT PERCENTILE_DISC({q!r}) WITHIN GROUP (ORDER BY v) "
            "FROM t_adv"
        ).first()[0]
        duck = con.execute(
            f"SELECT PERCENTILE_DISC({q!r}) WITHIN GROUP (ORDER BY v) "
            f"FROM (SELECT unnest(range(1, {n + 1})) AS v)"
        ).fetchone()[0]
        assert mine == builtin == float(duck), (q, n, mine, builtin, duck)
