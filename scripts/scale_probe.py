#!/usr/bin/env python
"""Scale probes: run the heaviest custom operators on synthetic data 10-1000x
the fixture sizes, measuring the scaling slope. Writes only under /tmp.

Usage: python scripts/scale_probe.py
"""

from __future__ import annotations

import random
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from distributed_graph_database_system_spark.operators.dedup import minhash_lsh_pairs  # noqa: E402
from distributed_graph_database_system_spark.operators.graph import (  # noqa: E402
    bfs,
    connected_components,
    k_core,
)
from distributed_graph_database_system_spark.session import get_spark  # noqa: E402

VOCAB = [f"tok{i}" for i in range(5000)]


def gen_docs(n: int, seed: int) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    return [(i, " ".join(rng.choices(VOCAB, k=80))) for i in range(n)]


def skew_join_probe(spark) -> None:
    """Join-side key skew — the 100×-scale killer the aggregation probe
    (agg_salted_skew) doesn't cover. One hub key holds 80% of a 20M-row
    fact; the 100k-key dim is forced off the broadcast path (at 100 TB the
    dim side of such joins no longer fits in memory) so the join MUST
    shuffle on the skewed key. Three plans over identical inputs:

      naive      — AQE skew-split off: the hub key's 16M rows land on ONE
                   reducer; wall time = the straggler task.
      aqe-skew   — spark.sql.adaptive.skewJoin splits the oversized
                   partition at runtime into advisory-sized sub-splits,
                   replicating the matching build rows per split.
      salted     — plan-level guarantee: fact rows get a salt in [0,16),
                   dim rows replicate 16×, join key becomes (key, salt) —
                   works even where AQE can't see the skew (e.g. the
                   skewed side feeds another shuffle first).

    All three must produce the identical aggregate (asserted)."""
    n_fact, n_keys, hub_frac = 20_000_000, 100_000, 0.8
    n_hub = int(n_fact * hub_frac)
    fact = spark.range(n_fact).select(
        F.when(F.col("id") < n_hub, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_keys)))
        .alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
        # ~64 B of payload per row so partition sizes (what AQE's skew
        # detector measures) reflect realistic fact-row width, not 16 B.
        F.repeat(F.format_string("%08x", F.col("id")), 8).alias("payload"),
    )
    dim = spark.range(n_keys).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("grp")
    )
    fact.write.mode("overwrite").parquet("/tmp/skew_fact")
    dim.write.mode("overwrite").parquet("/tmp/skew_dim")
    f = spark.read.parquet("/tmp/skew_fact")
    d = spark.read.parquet("/tmp/skew_dim")

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        )
    }
    # No broadcast: the probe is about the shuffle-join path.
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # Thresholds scaled to the probe's MBs (defaults target 256 MB
    # partitions); factor 2 + 4 MB advisory → the ~60 MB hub partition
    # splits ~16 ways while uniform partitions stay untouched.
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m"
    )
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")

    def run(label: str, skew_enabled: bool, salted: bool) -> float:
        conf.set(
            "spark.sql.adaptive.skewJoin.enabled",
            "true" if skew_enabled else "false",
        )
        if salted:
            n_salt = 16
            fs = f.withColumn(
                "_salt", F.pmod(F.xxhash64("k", "v"), F.lit(n_salt)).cast("int")
            )
            ds_ = d.withColumn(
                "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
            )
            joined = fs.join(ds_, ["k", "_salt"])
        else:
            joined = f.join(d, "k")
        q = joined.groupBy("grp").agg(
            F.count("*").alias("n"),
            F.round(F.sum("v"), 2).alias("sv"),
            F.sum(F.length("payload")).alias("pb"),
        )
        q.write.format("noop").mode("overwrite").save()  # warm (codegen/JIT)
        t0 = time.perf_counter()
        q.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        rows = {r["grp"]: (r["n"], r["sv"], r["pb"]) for r in q.collect()}
        # the final adaptive plan marks split joins with "skew=true" (read
        # after collect() — the noop write runs its own QueryExecution, so
        # the Dataset's plan is only finalized by the Dataset's own action)
        split = "skew=true" in q._jdf.queryExecution().executedPlan().toString()
        run.results.append(rows)
        print(f"skew-join[{label}]: {round(dt, 2)}s  aqe_split={split}")
        return dt

    run.results = []
    run("naive one-reducer hub", skew_enabled=False, salted=False)
    run("aqe skew-split", skew_enabled=True, salted=False)
    run("salted x16", skew_enabled=False, salted=True)
    assert run.results[0] == run.results[1] == run.results[2], (
        "skew mitigation changed the join result"
    )
    for k, v in saved.items():
        conf.set(k, v) if v is not None else conf.unset(k)


def token_agg_probe(spark) -> None:
    """Token-keyed aggregation under Zipfian skew — the scale shape behind
    the retrieval/analysis family (TF-IDF, PMI, inverted index, CMS). A
    16M-token stream where rank-r token frequency ~ 1/r (the head token
    alone is ~7% of the stream) is aggregated per token. The point: hot
    KEYS are not hot REDUCERS for algebraic aggregates — map-side partial
    aggregation folds each partition's head-token rows into one counter
    before the shuffle, so the shuffle carries ≤ |vocab| rows per map
    partition regardless of skew. Measured against the same aggregation
    with partial aggregation disabled via a distinct-forcing rewrite is
    not apples-to-apples, so we simply record wall time and shuffle-row
    arithmetic; the count-min sketch goes further (constant d×w state,
    no per-key rows at all) and is probed alongside."""
    n_docs, doc_len, vocab = 200_000, 80, 50_000
    # Zipf-ish via inverse-CDF on a uniform hash: rank = floor(vocab^u) has
    # P(rank ≤ r) = ln(r)/ln(V) → P(rank = r) ~ 1/r. Deterministic.
    toks = spark.range(n_docs * doc_len).select(
        F.concat(
            F.lit("tok"),
            F.floor(
                F.pow(
                    F.lit(float(vocab)),
                    (F.pmod(F.xxhash64("id"), F.lit(1_000_000)) / 1_000_000.0),
                )
            ).cast("bigint"),
        ).alias("tok")
    )
    toks.write.mode("overwrite").parquet("/tmp/scale_toks")
    t = spark.read.parquet("/tmp/scale_toks")

    counts = t.groupBy("tok").agg(F.count("*").alias("n"))
    counts.write.format("noop").mode("overwrite").save()  # warm
    t0 = time.perf_counter()
    counts.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    top = counts.orderBy(F.desc("n")).first()
    print(
        f"token-agg zipf {n_docs * doc_len} tokens, vocab~{vocab}: "
        f"{round(dt, 2)}s; head token {top['tok']}={top['n']} "
        f"({round(100 * top['n'] / (n_docs * doc_len), 1)}% of stream)"
    )

    from distributed_graph_database_system_spark.operators.sketch import (
        cm_estimate,
        cm_sketch,
    )

    t0 = time.perf_counter()
    sk = cm_sketch(t, "tok", depth=5, width=4096).localCheckpoint()
    n_rows = sk.count()
    dt = time.perf_counter() - t0
    est = cm_estimate(
        sk, spark.createDataFrame([(top["tok"],)], "tok STRING"), "tok",
        width=4096,
    ).first()["est"]
    print(
        f"cm-sketch build (5x4096) over same stream: {round(dt, 2)}s, "
        f"{n_rows} sketch rows; head-token est={est} (true {top['n']}, "
        f"bound +{round(2.718 * n_docs * doc_len / 4096)})"
    )


def prefix_sum_probe(spark) -> None:
    """Global cumulative sum at 30M rows: the one-pass window (ORDER BY
    with no PARTITION BY — every row through ONE task) vs the two-pass
    distributed prefix sum (operators/prefix.py). Identical exact-decimal
    results asserted; the wall-time gap is the single-partition-window
    bottleneck the rewrite removes."""
    from pyspark.sql import Window as W

    from distributed_graph_database_system_spark.operators.prefix import (
        partitioned_prefix_sum,
    )

    n = 30_000_000
    rows = spark.range(n).select(
        F.col("id").alias("k"),
        F.pmod(F.xxhash64("id"), F.lit(100_000)).cast("decimal(18,2)").alias("v"),
    )
    rows.write.mode("overwrite").parquet("/tmp/scale_prefix")
    r = spark.read.parquet("/tmp/scale_prefix")
    r.count()  # warm the scan so neither variant pays first-touch IO

    t0 = time.perf_counter()
    w = W.orderBy("k").rowsBetween(W.unboundedPreceding, W.currentRow)
    one = r.withColumn("cum", F.sum("v").over(w))
    one_last = one.orderBy(F.desc("k")).select("cum").first()["cum"]
    t_one = time.perf_counter() - t0

    t0 = time.perf_counter()
    two = partitioned_prefix_sum(r, ["k"], "v")
    two_last = two.orderBy(F.desc("k")).select("cum").first()["cum"]
    t_two = time.perf_counter() - t0
    assert one_last == two_last, (one_last, two_last)
    print(
        f"prefix-sum {n} rows: one-pass global window={round(t_one, 2)}s, "
        f"two-pass distributed={round(t_two, 2)}s (identical exact totals)"
    )


def main() -> int:
    spark = get_spark(app_name="scale-probe")

    if sys.argv[1:] == ["whatif"]:
        # Round-11 probe: batched what-if reachability (the articulation/
        # bridge primitive). Claim under test: wall tracks FRONTIER VOLUME
        # (candidates × reach), and round count stays at graph diameter —
        # NOT candidates × diameter sequential BFS runs. Random connected
        # graph, 64 sampled candidates, then 10× the edges.
        from distributed_graph_database_system_spark.operators.graph import (
            excluded_vertex_reach,
        )

        rng = random.Random(7)
        for n_v, n_e in ((2_000, 8_000), (20_000, 80_000)):
            ring = [(i, i % n_v + 1) for i in range(1, n_v + 1)]
            extra = [
                (rng.randrange(1, n_v + 1), rng.randrange(1, n_v + 1))
                for _ in range(n_e - n_v)
            ]
            und = ring + extra
            edges = spark.createDataFrame(
                und + [(b, a) for a, b in und], "src BIGINT, dst BIGINT"
            )
            cands = sorted(rng.sample(range(1, n_v + 1), 64))
            stats: dict = {}
            t0 = time.perf_counter()
            reach = excluded_vertex_reach(edges, cands, stats=stats)
            n_rows = reach.count()
            dt = round(time.perf_counter() - t0, 2)
            print(
                f"what-if reach V={n_v} E={n_e} cands=64: rows={n_rows} "
                f"rounds={stats['rounds']} wall={dt}s"
            )
        return 0
    if sys.argv[1:] == ["kmeans"]:
        # Round-11 probe: the embed_kmeans_two_rounds shape at 100x the
        # sf0.01 corpus — 50k synthetic 64-dim vectors, k=8. Claim under
        # test: each Lloyd round is one broadcast join (k x dims centroid
        # rows) + one aggregation keyed on vec_id; wall scales with the
        # explode volume, not k x corpus rescans.
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(11)
        n, d, k = 50_000, 64, 8
        pdf = pd.DataFrame(
            {
                "vec_id": np.arange(n),
                "embedding": list(
                    rng.normal(0, 0.2, size=(n, d)).astype("float32")
                ),
            }
        )
        emb = spark.createDataFrame(pdf)
        q4 = emb.select(
            "vec_id", F.posexplode("embedding").alias("pos", "v")
        ).select(
            "vec_id",
            (F.col("pos") + 1).alias("dim"),
            F.floor(F.col("v").cast("double") * 10_000)
            .cast("bigint")
            .alias("q"),
        )
        c0 = q4.where(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cid"), "dim", F.col("q").alias("cq")
        )
        t0 = time.perf_counter()
        d1 = (
            q4.join(F.broadcast(c0), "dim")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum(
                    (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
                ).alias("dist")
            )
        )
        from pyspark.sql import Window as W

        a1 = (
            d1.withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("vec_id").orderBy("dist", "cid")
                ),
            )
            .where(F.col("rn") == 1)
            .select("vec_id", "cid")
        )
        sizes = {
            r["cid"]: r["n"]
            for r in a1.groupBy("cid").agg(F.count("*").alias("n")).collect()
        }
        dt = round(time.perf_counter() - t0, 2)
        print(
            f"kmeans assign round over {n}x{d} (k={k}): wall={dt}s "
            f"cluster sizes={sorted(sizes.values())}"
        )
        return 0
    if sys.argv[1:] == ["skewjoin"]:
        skew_join_probe(spark)
        return 0
    if sys.argv[1:] == ["tokenagg"]:
        token_agg_probe(spark)
        return 0
    if sys.argv[1:] == ["prefixsum"]:
        prefix_sum_probe(spark)
        return 0
    if sys.argv[1:] == ["merge"]:
        from distributed_graph_database_system_spark.sources.layout import (
            merge_into,
        )

        # 10M rows over 100 day-partitions; a changeset touching 5 days.
        # The claim under test: merge cost follows TOUCHED partitions,
        # not table size — the other 95 directories are never rewritten.
        base = spark.range(10_000_000).select(
            F.col("id").alias("k"),
            (F.pmod(F.xxhash64("id"), F.lit(100))).alias("day"),
            (F.pmod(F.xxhash64(F.col("id") + 5), F.lit(1000)) / 10.0).alias("v"),
        )
        tgt = "/tmp/scale_merge_target"
        base.write.partitionBy("day").mode("overwrite").parquet(tgt)
        # changeset drawn FROM the day<5 partitions (keys keep their day),
        # so the touched set is exactly those 5 directories + inserts
        in5 = spark.read.parquet(tgt).where(F.col("day") < 5)
        ups = (
            in5.where(F.pmod("k", F.lit(5)) == 0)
            .select("k", "day", F.lit(-1.0).alias("v"))
            .limit(100_000)
        )
        dels = (
            in5.where(F.pmod("k", F.lit(97)) == 1).select("k").limit(10_000)
        )
        t0 = time.perf_counter()
        stats = merge_into(spark, tgt, ups, ["k"], deletes=dels)
        print(
            f"merge_into 10M-row/100-part target, 100k upserts + 10k deletes "
            f"over ~5+ days: {round(time.perf_counter() - t0, 2)}s, {stats}"
        )
        return 0

    if sys.argv[1:] == ["hitscolor"]:
        from distributed_graph_database_system_spark.operators.graph import (
            greedy_coloring,
            hits,
        )

        # HITS: 8 L1-normalized decimal rounds on 500k directed edges /
        # 100k vertices. The claim: per-round cost is two grouped joins,
        # independent of score magnitudes (the decimal(26,12) division fix
        # keeps 12 digits even at 1e-5 per-vertex mass).
        n_v, n_e = 100_000, 500_000
        g = spark.range(n_e).select(
            (F.pmod(F.xxhash64("id"), F.lit(n_v)) + 1).alias("src"),
            (F.pmod(F.xxhash64(F.col("id") + 3), F.lit(n_v)) + 1).alias("dst"),
        )
        t0 = time.perf_counter()
        top = (
            hits(g)
            .orderBy(F.desc("authority"), "vid")
            .limit(3)
            .collect()
        )
        t_hits = round(time.perf_counter() - t0, 2)
        assert top[0].authority > 0
        # Greedy coloring: bounded-degree graph (ring + 2 chord sets),
        # max degree ~6 ⇒ few MIS rounds per color, few colors total.
        n_c = 200_000
        ring = spark.range(1, n_c).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        chords = spark.range(n_c).select(
            (F.pmod(F.xxhash64("id"), F.lit(n_c)) + 1).alias("src"),
            (F.pmod(F.xxhash64(F.col("id") + 5), F.lit(n_c)) + 1).alias("dst"),
        ).limit(200_000)
        cg = ring.unionAll(chords).where(F.col("src") != F.col("dst"))
        t0 = time.perf_counter()
        cols = greedy_coloring(cg, max_colors=32)
        n_colors = cols.agg(F.max("color")).first()[0] + 1
        n_colored = cols.count()
        t_color = round(time.perf_counter() - t0, 2)
        print(
            f"hits 100k-vertex/500k-edge 8 rounds: {t_hits}s, top authority "
            f"{top[0].authority:.6f}; greedy_coloring 200k-vertex/~400k-edge: "
            f"{n_colors} colors over {n_colored} vertices in {t_color}s"
        )
        return 0

    if sys.argv[1:] == ["hist7"]:
        # 50M values over 60 days through the additive-histogram sliding
        # quantile shape (events_sliding7_quantiles_hist): per-day 0.01
        # buckets merge by addition, so the full p50/p95/p99 series costs
        # seconds and the exchange carries (day × distinct-bucket) counts,
        # never raw values. Spot-checked against percentile_disc on one
        # window.
        n, days = 50_000_000, 60
        ev = spark.range(n).select(
            F.pmod(F.xxhash64("id"), F.lit(days)).alias("day_i"),
            (F.pmod(F.xxhash64(F.col("id") + 11), F.lit(50_000)) / 100.0).alias(
                "value"
            ),
        )
        t0 = time.perf_counter()
        daily = ev.groupBy(
            "day_i", F.floor(F.col("value") * 100).cast("bigint").alias("bucket")
        ).agg(F.count(F.lit(1)).alias("cnt"))
        contrib = daily.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
            "day_i",
            "bucket",
            "cnt",
        ).select((F.col("day_i") + F.col("i")).alias("day_i"), "bucket", "cnt")
        win = (
            contrib.where(F.col("day_i") < days)
            .groupBy("day_i", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        tot = win.groupBy("day_i").agg(F.sum("cnt").alias("n"))
        from pyspark.sql import Window as PW

        cum = win.join(tot, "day_i").withColumn(
            "c",
            F.sum("cnt").over(
                PW.partitionBy("day_i").orderBy("bucket").rowsBetween(
                    PW.unboundedPreceding, 0
                )
            ),
        )
        qs = (
            cum.groupBy("day_i")
            .agg(
                (
                    F.min(
                        F.when(
                            F.col("c") >= F.ceil(F.lit(0.99) * F.col("n")),
                            F.col("bucket"),
                        )
                    )
                    / 100.0
                ).alias("p99")
            )
            .collect()
        )
        dt = round(time.perf_counter() - t0, 2)
        probe = (
            ev.where((F.col("day_i") >= 24) & (F.col("day_i") <= 30))
            .selectExpr(
                "percentile_disc(0.99) WITHIN GROUP (ORDER BY value) p"
            )
            .first()["p"]
        )
        got = {r.day_i: r.p99 for r in qs}[30]
        assert probe - 0.0100001 <= got <= probe + 1e-9, (got, probe)
        print(
            f"additive-histogram sliding-7d quantiles: 50M values / {days} "
            f"days → full p99 series in {dt}s, day-30 p99={got} within one "
            f"bucket of percentile_disc={probe}"
        )
        return 0

    if sys.argv[1:] == ["betweenness"]:
        from distributed_graph_database_system_spark.operators.graph import (
            betweenness_centrality,
        )

        # 50k vertices / 150k random edges + a spanning chain, 4 landmark
        # sources. The claim: cost is O(|sources| × depth) level joins —
        # the sampled mode is what runs at scale, and the per-level
        # frontier joins stay all-vertex-parallel.
        n_v = 50_000
        chain = spark.range(1, n_v).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        extra = spark.range(150_000).select(
            (F.pmod(F.xxhash64("id"), F.lit(n_v)) + 1).alias("src"),
            (F.pmod(F.xxhash64(F.col("id") + 3), F.lit(n_v)) + 1).alias(
                "dst"
            ),
        )
        g = chain.unionAll(extra).where(F.col("src") != F.col("dst"))
        t0 = time.perf_counter()
        bc = betweenness_centrality(g, sources=[1, 12_500, 25_000, 37_500])
        top = bc.orderBy(F.desc("bc"), "vid").limit(5).collect()
        dt = round(time.perf_counter() - t0, 2)
        print(
            f"betweenness (Brandes, 4 landmark sources) on 50k vertices / "
            f"~200k edges: {dt}s, top vertex bc={top[0].bc:.1f}"
        )
        return 0

    if sys.argv[1:] == ["kmv"]:
        from distributed_graph_database_system_spark.operators.sketch import (
            kmv_distinct_estimate,
            kmv_sketch,
        )

        # 50M rows, 8 groups, ~2-6M TRUE distinct values per group (known
        # by construction: group g draws from a g-sized id space). The
        # claim: with the presieve the per-group sort sees only ~8k hashes
        # however many distincts exist, and the k=256 estimates land
        # within the 1/sqrt(k-1) ≈ 6% regime.
        n = 50_000_000
        rows = spark.range(n).select(
            (F.pmod("id", F.lit(8))).alias("g"),
            F.pmod(
                F.xxhash64("id"),
                (F.pmod("id", F.lit(8)) + 1) * 750_000,
            ).alias("v"),
        )
        k = 256
        t0 = time.perf_counter()
        sk = kmv_sketch(
            rows, "v", k=k, group_cols=("g",), presieve=8.0 * k / 500_000
        )
        est = {
            r.g: r.est_distinct
            for r in kmv_distinct_estimate(sk, k=k, group_cols=("g",)).collect()
        }
        dt = round(time.perf_counter() - t0, 2)
        exact = {
            r.g: r.n
            for r in rows.groupBy("g")
            .agg(F.countDistinct("v").alias("n"))
            .collect()
        }
        worst = max(abs(est[g] - n0) / n0 for g, n0 in exact.items())
        print(
            f"kmv sketch 50M rows / 8 groups (true distinct "
            f"{min(exact.values())}-{max(exact.values())}): k={k} presieved "
            f"build+estimate {dt}s, worst relative error "
            f"{round(100 * worst, 2)}%"
        )
        return 0

    if sys.argv[1:] == ["bitmap7"]:
        # 50M events over 60 days, 2M-user id space, heavy repetition —
        # the exact sliding-distinct shape. The claim: per-day user sets
        # compress to (day, bucket) bitmaps map-side, the 7-window
        # explode shuffles bitmaps (not user rows), and the whole series
        # costs seconds. Cross-checked against countDistinct on 3 days.
        n, days, users = 50_000_000, 60, 2_000_000
        ev = spark.range(n).select(
            F.pmod(F.xxhash64("id"), F.lit(days)).alias("day_i"),
            F.pmod(F.xxhash64(F.col("id") + 7), F.lit(users)).alias(
                "user_id"
            ),
        )
        t0 = time.perf_counter()
        day_bm = (
            ev.select(
                "day_i",
                F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
                F.expr("bitmap_bit_position(user_id)").alias("pos"),
            )
            .groupBy("day_i", "bkt")
            .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
        )
        contrib = day_bm.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
            "day_i",
            "bkt",
            "bm",
        ).select((F.col("day_i") + F.col("i")).alias("day_i"), "bkt", "bm")
        out = (
            contrib.where(F.col("day_i") < days)
            .groupBy("day_i", "bkt")
            .agg(F.expr("bitmap_count(bitmap_or_agg(bm))").alias("c"))
            .groupBy("day_i")
            .agg(F.sum("c").alias("users_7d"))
        )
        got = {r.day_i: r.users_7d for r in out.collect()}
        dt = round(time.perf_counter() - t0, 2)
        for probe_day in (6, 30, 59):
            want = (
                ev.where(
                    (F.col("day_i") >= probe_day - 6)
                    & (F.col("day_i") <= probe_day)
                )
                .agg(F.countDistinct("user_id"))
                .first()[0]
            )
            assert got[probe_day] == want, (probe_day, got[probe_day], want)
        print(
            f"bitmap sliding-7d exact distinct: 50M events / {days} days / "
            f"{users} users → full series in {dt}s, spot-checked exact on "
            f"days 6/30/59 (e.g. day 30 = {got[30]})"
        )
        return 0

    if sys.argv[1:] == ["msf"]:
        from distributed_graph_database_system_spark.operators.graph import (
            minimum_spanning_forest,
        )

        # 200k vertices / 1M random edges (plus a spanning backbone so the
        # forest is one tree): Borůvka halves components per round, each
        # round = two comp joins + a min-struct aggregate + CC contraction
        # of the picked edges. The claim: round count stays O(log n) and
        # the forest lands |V|-1 edges.
        n_v, n_e = 200_000, 1_000_000
        backbone = spark.range(1, n_v).select(
            F.col("id").alias("src"),
            (F.pmod(F.xxhash64("id"), F.col("id"))).alias("dst"),
            ((F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)) + 1000).cast("double")).alias("w"),
        )
        extra = spark.range(n_e).select(
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_v)).alias("src"),
            F.pmod(F.xxhash64("id", F.lit(3)), F.lit(n_v)).alias("dst"),
            (F.pmod(F.xxhash64("id", F.lit(4)), F.lit(1000000)).cast("double") / 1000.0).alias("w"),
        )
        edges = backbone.unionAll(extra).where(F.col("src") != F.col("dst"))
        t0 = time.perf_counter()
        msf = minimum_spanning_forest(edges)
        n_edges = msf.count()
        total_w = msf.agg(F.sum("w")).first()[0]
        print(
            f"boruvka_msf {n_v} vertices / ~{n_e} random edges + backbone: "
            f"forest={n_edges} edges (expect {n_v - 1}), "
            f"weight={total_w:.1f}, {time.perf_counter() - t0:.1f}s"
        )
        return 0

    if sys.argv[1:] == ["substring"]:
        from distributed_graph_database_system_spark.operators.dedup import (
            duplicated_ngram_stats,
            ngram_spans,
        )

        # 1M synthetic hash-token docs, every 50th sharing one planted
        # 16-token span (~3.2M gram rows through one partial-aggregated
        # shuffle; grams of unique-hash docs are globally unique, the
        # worst case for the aggregate's key cardinality). The claim under
        # test: exact-substring span detection is ONE exchange on the gram
        # key, and exactly the planted span's 9 8-gram windows surface.
        planted = " ".join(f"tok{i}" for i in range(16))
        docs = spark.range(1_000_000).select(
            F.col("id").alias("doc_id"),
            F.when(
                F.pmod("id", F.lit(50)) == 0,
                F.concat(
                    F.lit(planted + " "),
                    F.sha2(F.col("id").cast("string"), 256),
                ),
            )
            .otherwise(
                F.concat_ws(
                    " ",
                    *[
                        F.sha2(F.concat(F.col("id").cast("string"), F.lit(f"|{j}")), 256)
                        for j in range(10)
                    ],
                )
            )
            .alias("text"),
        )
        t0 = time.perf_counter()
        grams = ngram_spans(docs.repartition(32, "doc_id"), n=8)
        dup = duplicated_ngram_stats(grams, min_docs=2)
        n_dup = dup.count()
        n_grams = grams.count()
        t1 = time.perf_counter()
        print(
            f"substring dedup 1M docs / {n_grams} gram rows: "
            f"{n_dup} duplicated grams found (expect 9 = the planted "
            f"16-token span's 8-gram windows), {t1 - t0:.1f}s"
        )
        return 0

    if sys.argv[1:] == ["bloom"]:
        from distributed_graph_database_system_spark.operators.bloom import (
            bloom_params,
            bloom_prefilter,
        )

        # 50M-row fact vs a 1M-key dim (2% selective): the claim under
        # test is that a megabyte-scale broadcast bitmap drops the
        # non-matching ~98% of fact rows BEFORE any exchange, with the
        # measured FP rate at the configured 1%.
        fact = spark.range(50_000_000).select(
            F.pmod(F.xxhash64("id"), F.lit(50_000_000)).alias("k")
        )
        dim = spark.range(1_000_000).select((F.col("id") * 50).alias("k"))
        n_dim = 1_000_000
        m, kh = bloom_params(n_dim, 0.01)
        t0 = time.perf_counter()
        cand = bloom_prefilter(fact, "k", dim, "k", fpp=0.01, n_keys_hint=n_dim)
        n_cand = cand.count()
        t1 = time.perf_counter()
        n_fact = 50_000_000
        true = fact.join(dim, "k", "leftsemi").count()
        print(
            f"bloom_prefilter 50M fact vs 1M dim keys: bitmap={m // 8 // 1024}KB "
            f"k={kh}, candidates={n_cand} (true={true}, fp_extra={n_cand - true}, "
            f"fp_rate={(n_cand - true) / (n_fact - true):.4f}), "
            f"reduction={1 - n_cand / n_fact:.3f}, build+filter={t1 - t0:.1f}s"
        )
        return 0

    if sys.argv[1:] == ["quantiles"]:
        from distributed_graph_database_system_spark.operators.quantile import (
            group_quantiles_exact,
        )

        # 30M rows / 4 groups: EXACT p25/p50/p90 through the bounded-state
        # two-pass path — the volume where percentile()'s per-group buffer
        # sort is the thing you are trying not to do.
        df = spark.range(30_000_000).select(
            (F.pmod(F.xxhash64("id"), F.lit(4))).cast("string").alias("g"),
            (F.pmod(F.xxhash64(F.col("id") + 11), F.lit(10_000_000)) / 100.0).alias(
                "v"
            ),
        )
        df.write.mode("overwrite").parquet("/tmp/scale_quant")
        d = spark.read.parquet("/tmp/scale_quant")
        t0 = time.perf_counter()
        out = group_quantiles_exact(d, "v", [0.25, 0.5, 0.9], ["g"]).collect()
        wall = round(time.perf_counter() - t0, 2)
        t1 = time.perf_counter()
        ref = {
            r.g: [r.p[i] for i in range(3)]
            for r in d.groupBy("g")
            .agg(
                F.percentile(
                    "v", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.9))
                ).alias("p")
            )
            .collect()
        }
        wall_ref = round(time.perf_counter() - t1, 2)
        got = {r.g: [r.q_0_25, r.q_0_5, r.q_0_9] for r in out}
        print(
            f"group_quantiles_exact 30M rows / 4 groups: {wall}s "
            f"(percentile() reference: {wall_ref}s), bit_identical={got == ref}"
        )
        return 0

    if sys.argv[1:] == ["asof"]:
        from distributed_graph_database_system_spark.operators.asof import (
            asof_join,
        )

        # trades × quotes, the canonical as-of workload: 10M left rows
        # matched against 1M right rows over 100k keys — one shuffle on
        # the key, two window passes (nearest), zero range lookups.
        n_keys = 100_000
        trades = spark.range(10_000_000).select(
            F.pmod(F.xxhash64("id"), F.lit(n_keys)).alias("k"),
            (F.pmod(F.xxhash64(F.col("id") + 1), F.lit(1_000_000_000))
             .cast("double")).alias("t"),
            F.col("id").alias("trade_id"),
        )
        quotes = spark.range(1_000_000).select(
            F.pmod(F.xxhash64(F.col("id") + 2), F.lit(n_keys)).alias("k"),
            (F.pmod(F.xxhash64(F.col("id") + 3), F.lit(1_000_000_000))
             .cast("double")).alias("t"),
            (F.pmod(F.xxhash64(F.col("id") + 4), F.lit(10_000)) / 100.0).alias("px"),
        )
        trades.write.mode("overwrite").parquet("/tmp/scale_asof_l")
        quotes.write.mode("overwrite").parquet("/tmp/scale_asof_r")
        lt = spark.read.parquet("/tmp/scale_asof_l")
        rt = spark.read.parquet("/tmp/scale_asof_r")
        for direction in ("backward", "nearest"):
            t0 = time.perf_counter()
            out = asof_join(
                lt, rt, on="t", by=["k"], right_cols=["px"],
                direction=direction,
            )
            matched = out.where(F.col("px_r").isNotNull()).count()
            print(
                f"asof_join {direction} 10M x 1M over {n_keys} keys: "
                f"{round(time.perf_counter() - t0, 2)}s, matched={matched}"
            )
        return 0

    if sys.argv[1:] == ["temporalbfs"]:
        from distributed_graph_database_system_spark.operators.graph import (
            temporal_bfs,
        )

        # 1M timestamped contact events over 100k vertices, timestamps
        # drawn deterministically from a 30-day window. Mean degree 10
        # puts hop-reachability near total; the temporal constraint
        # (non-decreasing timestamps along a path) prunes it — the probe
        # records reach, label-correcting rounds, and wall.
        n_v, n_e = 100_000, 1_000_000
        te = (
            spark.range(n_e)
            .select(
                (F.pmod(F.xxhash64("id"), F.lit(n_v)) + 1).alias("src"),
                (F.pmod(F.xxhash64(F.col("id") + 7_777_777), F.lit(n_v)) + 1).alias(
                    "dst"
                ),
                F.timestamp_seconds(
                    F.lit(1_700_000_000)
                    + F.pmod(F.xxhash64(F.col("id") + 99), F.lit(30 * 86_400))
                ).alias("ts"),
            )
            .where(F.col("src") != F.col("dst"))
        )
        te.write.mode("overwrite").parquet("/tmp/scale_temporal_edges")
        e = spark.read.parquet("/tmp/scale_temporal_edges")
        stats: dict = {}
        t0 = time.perf_counter()
        r = temporal_bfs(e, start=1, stats=stats).localCheckpoint()
        reached = r.count()
        print(
            f"temporal_bfs 1M contact events: "
            f"{round(time.perf_counter() - t0, 2)}s, reached={reached}/{n_v}, "
            f"rounds={stats['rounds']}"
        )
        return 0

    if sys.argv[1:] == ["scc"]:
        from distributed_graph_database_system_spark.operators.graph import (
            strongly_connected_components,
        )

        # 1M-edge random digraph over 100k vertices (mean degree 10 in+out):
        # far above the strong-connectivity threshold, so trim+color should
        # resolve a giant SCC plus a small fringe in very few outer rounds.
        n_v, n_e = 100_000, 1_000_000
        re_edges = (
            spark.range(n_e)
            .select(
                (F.pmod(F.xxhash64("id"), F.lit(n_v)) + 1).alias("src"),
                (F.pmod(F.xxhash64(F.col("id") + 7_777_777), F.lit(n_v)) + 1).alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
        )
        re_edges.write.mode("overwrite").parquet("/tmp/scale_scc_edges")
        e = spark.read.parquet("/tmp/scale_scc_edges")
        t0 = time.perf_counter()
        scc = strongly_connected_components(e).localCheckpoint()
        n_comp = scc.select("scc").distinct().count()
        giant = scc.groupBy("scc").count().agg(F.max("count")).first()[0]
        print(
            f"scc 1M-edge random digraph: {round(time.perf_counter() - t0, 2)}s, "
            f"components={n_comp}, giant={giant}/{n_v}"
        )
        return 0

    for n in (5_000, 50_000):
        docs = spark.createDataFrame(
            gen_docs(n, 1), "doc_id BIGINT, text STRING"
        ).repartition(32)
        docs.write.mode("overwrite").parquet(f"/tmp/scale_docs_{n}")
        d = spark.read.parquet(f"/tmp/scale_docs_{n}")
        pairs = minhash_lsh_pairs(d, threshold=0.7)
        pairs.write.format("noop").mode("overwrite").save()  # warm
        t0 = time.perf_counter()
        pairs.write.format("noop").mode("overwrite").save()
        print(f"minhash_lsh n={n}: {round(time.perf_counter() - t0, 2)}s")

    # 1M-edge random digraph over 100k vertices, generated distributed
    n_v, n_e = 100_000, 1_000_000
    edges = (
        spark.range(n_e)
        .select(
            (F.pmod(F.xxhash64("id"), F.lit(n_v)) + 1).alias("src"),
            (F.pmod(F.xxhash64(F.col("id") + 7_777_777), F.lit(n_v)) + 1).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    edges.write.mode("overwrite").parquet("/tmp/scale_edges")
    e = spark.read.parquet("/tmp/scale_edges")

    t0 = time.perf_counter()
    r = bfs(e, start=1)
    n_reached, depth = r.count(), r.agg(F.max("level")).collect()[0][0]
    print(
        f"bfs 1M edges: {round(time.perf_counter() - t0, 2)}s, "
        f"reached={n_reached}, depth={depth}"
    )

    t0 = time.perf_counter()
    n_comp = connected_components(e).select("comp").distinct().count()
    print(
        f"cc[star] 1M edges: {round(time.perf_counter() - t0, 2)}s, "
        f"components={n_comp}"
    )

    # 200k-vertex path graph: diameter 200k. Hash-min label propagation
    # would need O(diameter) rounds; star converges in O(log n) rounds —
    # this probe is WHY connected_components runs the star algorithm.
    n_p = 200_000
    path = (
        spark.range(1, n_p)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        .repartition(32)
    )
    path.write.mode("overwrite").parquet("/tmp/scale_path_edges")
    p = spark.read.parquet("/tmp/scale_path_edges")
    t0 = time.perf_counter()
    n_comp = (
        connected_components(p)
        .select("comp")
        .distinct()
        .count()
    )
    print(
        f"cc[star] {n_p}-vertex path (diameter {n_p}): "
        f"{round(time.perf_counter() - t0, 2)}s, components={n_comp}"
    )

    # k-core on the 1M-edge random digraph: peeling converges in few rounds
    # on graphs with a dense core (each round drops ALL sub-k vertices).

    # k=12 keeps a large core on this mean-degree-20 random graph; k at the
    # ER core-emergence threshold (~15 here) cascades to an EMPTY core —
    # correct, but not the convergence case worth timing.
    t0 = time.perf_counter()
    core = k_core(e, k=12)
    n_core = core.count()
    print(
        f"k_core(k=12) 1M edges: {round(time.perf_counter() - t0, 2)}s, "
        f"core_size={n_core}"
    )

    # Skewed-graph triangle count: hub-star + spoke ring, 100k spokes.
    # Naive (i,j)⋈(j,k) wedge-joins on the hub key: ~10^10 wedge rows from
    # the degree-100k hub alone. Degree-ordered orientation points every
    # edge low→high (deg, vid), so the hub (max degree) has out-degree 0
    # and each spoke at most 2 — wedge fan-out stays O(1)/vertex.
    from distributed_graph_database_system_spark.operators.graph import (
        triangle_count,
    )

    n_s = 100_000
    hub = spark.range(1, n_s + 1).select(
        F.lit(0).alias("src"), F.col("id").alias("dst")
    )
    ring = spark.range(1, n_s + 1).select(
        F.col("id").alias("src"),
        F.when(F.col("id") == n_s, F.lit(1)).otherwise(F.col("id") + 1).alias("dst"),
    )
    # canonical form (src < dst, dedup) as triangle_count expects
    tri_edges = (
        hub.union(ring)
        .select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .distinct()
        .repartition(32)
    )
    tri_edges.write.mode("overwrite").parquet("/tmp/scale_tri_edges")
    te = spark.read.parquet("/tmp/scale_tri_edges")
    t0 = time.perf_counter()
    n_tri = triangle_count(te).first()["n_triangles"]
    print(
        f"triangles hub({n_s})+ring skew graph: "
        f"{round(time.perf_counter() - t0, 2)}s, triangles={n_tri} "
        f"(expect {n_s})"
    )

    # ANN at 200x the fixture corpus: 100k 64-dim vectors (deterministic
    # per-id seeds, generated distributed). Brute force scans and scores all
    # n vectors per query; SRP-LSH scores only the probed buckets — the
    # ratio is the 100 TB story (index build is a one-time, amortized cost).
    import pandas as pd

    from distributed_graph_database_system_spark.operators.similarity import (
        cosine_topk,
        srp_ann_topk,
        srp_index,
    )

    n_vec, dim, nbits, n_clusters = 100_000, 64, 10, 256

    # clustered corpus (centroid + 0.1σ noise → intra-cluster cosine ≈ 0.99)
    # — the near-duplicate-retrieval regime ANN serves in a training
    # pipeline. Isotropic gaussians would be the wrong probe: with no
    # cluster structure every neighbor sits near 60°, where any LSH prunes
    # away true neighbors by design (measured recall 0.2 there).
    # mapInPandas (explicit schema), not @pandas_udf: this module's
    # `from __future__ import annotations` stringifies type hints, which
    # pandas_udf's hint inference rejects.
    def gen_vecs(batches):
        import numpy as np

        def mk(i: int) -> list[float]:
            c = np.random.default_rng(int(i) % n_clusters).standard_normal(dim)
            noise = np.random.default_rng(10**9 + int(i)).standard_normal(dim)
            return (c + 0.1 * noise).tolist()

        for pdf in batches:
            yield pd.DataFrame(
                {"vec_id": pdf["id"], "embedding": [mk(i) for i in pdf["id"]]}
            )

    vecs = spark.range(n_vec).mapInPandas(
        gen_vecs, "vec_id long, embedding array<double>"
    )
    vecs.write.mode("overwrite").parquet("/tmp/scale_vecs")
    v = spark.read.parquet("/tmp/scale_vecs")
    qv = [float(x) for x in v.where(F.col("vec_id") == 0).first()["embedding"]]

    t0 = time.perf_counter()
    bf = cosine_topk(v, qv, k=10).collect()
    t_bf = time.perf_counter() - t0

    # materialize the index once (at cluster scale: a bucketed table)
    srp_index(v, dim=dim, nbits=nbits).write.mode("overwrite").parquet(
        "/tmp/scale_vecs_idx"
    )
    idx = spark.read.parquet("/tmp/scale_vecs_idx")
    for probes in (1, 2):
        t0 = time.perf_counter()
        ann = srp_ann_topk(idx, qv, k=10, nbits=nbits, probes=probes).collect()
        t_ann = time.perf_counter() - t0
        recall = len({r.vec_id for r in ann} & {r.vec_id for r in bf}) / 10
        print(
            f"ann {n_vec} vecs dim={dim}: brute={round(t_bf, 2)}s, "
            f"srp-lsh(nbits={nbits},probes={probes})={round(t_ann, 2)}s, "
            f"recall@10={recall}"
        )

    # Data layout at 20-200x the fixture: Z-order 2M rows on 3 dims and
    # measure (a) write cost and (b) per-file stat tightening — the width of
    # each file's min/max envelope is exactly what row-group skipping prunes
    # with, so width-ratio ~ fraction of data a point/range query must read.
    from distributed_graph_database_system_spark.sources.layout import (
        compact,
        zorder_write,
    )

    n_z, n_files = 2_000_000, 32
    zsrc = (
        spark.range(n_z)
        .select(
            F.col("id").alias("row_id"),
            F.pmod(F.xxhash64("id"), F.lit(10_000)).alias("a"),
            F.pmod(F.xxhash64(F.col("id") + 1), F.lit(10_000)).alias("b"),
            (F.pmod(F.xxhash64(F.col("id") + 2), F.lit(1_000_000)) / 1000.0).alias("c"),
        )
        .repartition(n_files)
    )
    zsrc.write.mode("overwrite").parquet("/tmp/scale_zorder_plain")
    plain = spark.read.parquet("/tmp/scale_zorder_plain")
    t0 = time.perf_counter()
    zorder_write(plain, "/tmp/scale_zorder_zed", ["a", "b", "c"], bits=8,
                 partitions=n_files)
    t_z = time.perf_counter() - t0

    import pyarrow.dataset as ds

    def widths(path, col):
        out = []
        for frag in ds.dataset(path, format="parquet").get_fragments():
            lo = hi = None
            for rg in frag.metadata.to_dict()["row_groups"]:
                for cc in rg["columns"]:
                    if cc["path_in_schema"] == col and cc["statistics"]:
                        s = cc["statistics"]
                        lo = s["min"] if lo is None else min(lo, s["min"])
                        hi = s["max"] if hi is None else max(hi, s["max"])
            if lo is not None:
                out.append(float(hi) - float(lo))
        return sum(out) / len(out)

    ratios = {
        col: round(
            widths("/tmp/scale_zorder_zed", col)
            / widths("/tmp/scale_zorder_plain", col),
            3,
        )
        for col in ("a", "b", "c")
    }
    print(
        f"zorder {n_z} rows x 3 dims: write={round(t_z, 2)}s, "
        f"per-file stat-width ratio vs shuffled={ratios} (lower = tighter)"
    )

    t0 = time.perf_counter()
    n_out = compact(spark, "/tmp/scale_zorder_plain", target_bytes=1 << 30)
    print(
        f"compact {n_files}-file {n_z}-row dataset -> {n_out} file(s): "
        f"{round(time.perf_counter() - t0, 2)}s"
    )

    # Incremental near-dedup: per-shard cost must stay ~flat as the stored
    # corpus grows (candidates are bucket-join-limited, never shard×corpus).
    # 5 shards × 10k docs; each shard includes 200 near-dups of earlier docs.
    import shutil

    from distributed_graph_database_system_spark.streaming.documents import (
        near_dedup_batch_fn,
        read_decisions,
    )

    store = "/tmp/scale_dedup_store"
    shutil.rmtree(store, ignore_errors=True)
    upsert = near_dedup_batch_fn(spark, store, threshold=0.6)
    shard_sz, n_shards, n_planted = 10_000, 5, 200
    for b in range(n_shards):
        lo = b * shard_sz
        docs = spark.createDataFrame(
            gen_docs(shard_sz, seed=b), "doc_id BIGINT, text STRING"
        ).select((F.col("doc_id") + lo).alias("doc_id"), "text")
        if b > 0:
            # plant near-dups of the PREVIOUS shard (2 tokens swapped)
            prev = spark.createDataFrame(
                gen_docs(n_planted, seed=b - 1), "doc_id BIGINT, text STRING"
            ).select(
                (F.col("doc_id") + lo + shard_sz - n_planted).alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.slice(F.split("text", " "), 3, 78),
                    F.lit("xx yy"),
                ).alias("text"),
            )
            docs = docs.where(
                F.col("doc_id") < lo + shard_sz - n_planted
            ).unionByName(prev)
        docs.write.mode("overwrite").parquet(f"/tmp/scale_dedup_shard_{b}")
        shard = spark.read.parquet(f"/tmp/scale_dedup_shard_{b}")
        t0 = time.perf_counter()
        upsert(shard, b)
        dt = round(time.perf_counter() - t0, 2)
        print(f"incremental dedup shard {b} ({shard_sz} docs, corpus {lo}): {dt}s")
    n_dup = read_decisions(spark, store).where(F.col("dup_of").isNotNull()).count()
    print(
        f"incremental dedup: {n_shards * shard_sz} docs total, "
        f"{n_dup} flagged (planted {(n_shards - 1) * n_planted})"
    )

    skew_join_probe(spark)
    token_agg_probe(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
