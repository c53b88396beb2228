"""Plan-shape guarantees for the data-layout operators (sources/layout.py).

The oracle parity sweep proves the VALUES survive the layout round-trip;
these tests prove the PLANS are the ones the layout exists to buy:
no Exchange feeding a bucketed join, PartitionFilters on a pruned scan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_graph_database_system_spark.queries.layout import (
    layout_bucketed_join,
    layout_partition_pruned,
)
from distributed_graph_database_system_spark.sources import layout


def test_bucketed_join_has_no_input_shuffle(spark, sf_dir):
    df = layout_bucketed_join(spark, sf_dir)
    plan = layout.physical_plan(df)
    assert "SortMergeJoin" in plan, plan
    # The one shuffle allowed is the final groupBy re-key; the join inputs
    # must come straight from the bucketed files.
    assert layout.shuffle_count(df) == 1, plan


def test_bucketed_join_matches_direct_join(spark, sf_dir):
    from distributed_graph_database_system_spark.sources.catalog import load_table

    got = {r["o_orderpriority"]: r["n_items"] for r in layout_bucketed_join(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    want = {
        r["o_orderpriority"]: r["n"]
        for r in li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_partition_pruned_scan_prunes_directories(spark, sf_dir):
    df = layout_partition_pruned(spark, sf_dir)
    plan = layout.physical_plan(df)
    assert "PartitionFilters" in plan, plan
    # the date bounds must appear as partition (not data) filters
    assert "2024-01-08" in plan and "2024-01-15" in plan, plan


def test_partition_pruned_matches_unpartitioned_filter(spark, sf_dir):
    from distributed_graph_database_system_spark.sources.catalog import load_table

    got = layout_partition_pruned(spark, sf_dir)
    e = load_table(spark, sf_dir, "events")
    want = (
        e.filter(
            (F.col("ts").cast("date") >= F.lit("2024-01-08").cast("date"))
            & (F.col("ts").cast("date") < F.lit("2024-01-15").cast("date"))
        )
        .groupBy(F.col("ts").cast("date").cast("timestamp").alias("event_day"), "event_type")
        .count()
    )
    got_n = {(r["event_day"], r["event_type"]): r["n"] for r in got.collect()}
    want_n = {(r["event_day"], r["event_type"]): r["count"] for r in want.collect()}
    assert got_n == want_n and sum(got_n.values()) > 0


def _file_stat_widths(path: str, col: str) -> list[float]:
    """Per-file (min,max) width of ``col`` from parquet footer statistics —
    the stats data-skipping actually uses."""
    import pyarrow.dataset as ds

    widths = []
    for frag in ds.dataset(path, format="parquet").get_fragments():
        lo, hi = None, None
        for rg in frag.metadata.to_dict()["row_groups"]:
            for c in rg["columns"]:
                if c["path_in_schema"] == col and c["statistics"]:
                    s = c["statistics"]
                    lo = s["min"] if lo is None else min(lo, s["min"])
                    hi = s["max"] if hi is None else max(hi, s["max"])
        if lo is not None:
            widths.append(float(hi) - float(lo))
    return widths


def test_zorder_tightens_file_stats_on_both_dims(spark, sf_dir, tmp_path):
    """Z-ordering by (user_id, value) must shrink per-file min/max ranges on
    BOTH columns vs a shuffled layout — that width is exactly what row-group
    skipping prunes with."""
    from distributed_graph_database_system_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    n_files = 8
    base, zed = str(tmp_path / "plain"), str(tmp_path / "zorder")
    e.repartition(n_files).write.mode("overwrite").parquet(base)
    layout.zorder_write(e, zed, ["user_id", "value"], bits=6, partitions=n_files)

    for col in ("user_id", "value"):
        plain_w = sum(_file_stat_widths(base, col)) / n_files
        z_w = sum(_file_stat_widths(zed, col)) / n_files
        # each z-file should cover well under half the full range; a random
        # shuffle makes every file cover ~the whole range
        assert z_w < 0.6 * plain_w, (col, z_w, plain_w)

    # and the data survives the re-layout
    assert spark.read.parquet(zed).count() == e.count()


def test_compact_reduces_file_count_preserving_rows(spark, sf_dir, tmp_path):
    from distributed_graph_database_system_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "frag")
    e.repartition(20).write.mode("overwrite").parquet(path)
    import glob

    assert len(glob.glob(path + "/*.parquet")) == 20
    n = layout.compact(spark, path, target_bytes=1 << 30)
    assert n == 1
    assert len(glob.glob(path + "/*.parquet")) == 1
    assert spark.read.parquet(path).count() == e.count()


def test_compact_preserves_hive_partitioning(spark, sf_dir, tmp_path):
    """Compacting a day-partitioned dataset must keep the day= directory
    layout (else pruning breaks and partition-overwrite writers double-count)
    while consolidating the files inside each partition."""
    import glob

    from distributed_graph_database_system_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "by_day")
    # fragment: several files per day partition
    e.repartition(6).write.partitionBy("day").mode("overwrite").parquet(path)
    day_dirs = glob.glob(path + "/day=*")
    assert day_dirs and all(
        len(glob.glob(d + "/*.parquet")) > 1 for d in day_dirs[:3]
    )
    before = spark.read.parquet(path).count()
    layout.compact(spark, path, target_bytes=1 << 30)
    after_dirs = glob.glob(path + "/day=*")
    assert sorted(after_dirs) == sorted(day_dirs), "partition layout lost"
    assert all(len(glob.glob(d + "/*.parquet")) == 1 for d in after_dirs)
    assert spark.read.parquet(path).count() == before
    # no stray backup/tmp left behind
    assert not glob.glob(path + "__compact_*")


def test_compact_splits_oversized_partition(spark, sf_dir, tmp_path):
    """A hive partition LARGER than target_bytes must split into multiple
    files: the rewrite shuffles on (partition cols, bounded salt), not the
    partition cols alone (which would collapse each directory to one file
    regardless of size)."""
    import glob

    from distributed_graph_database_system_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "events").withColumn("one", F.lit("all"))
    path = str(tmp_path / "one_part")
    e.coalesce(1).write.partitionBy("one").mode("overwrite").parquet(path)
    only_dir = glob.glob(path + "/one=*")
    assert len(only_dir) == 1
    total = sum(
        __import__("os").path.getsize(f)
        for f in glob.glob(only_dir[0] + "/*.parquet")
    )
    before = spark.read.parquet(path).count()
    n = layout.compact(spark, path, target_bytes=max(1, total // 4))
    assert n >= 3
    files = glob.glob(path + "/one=*/*.parquet")
    assert len(files) >= 3, "oversized partition did not split"
    assert spark.read.parquet(path).count() == before


def test_compact_preserves_nested_partition_levels(spark, sf_dir, tmp_path):
    """A two-level day=D/batch_id=N layout (the incremental rollup ledger's
    exactly-once keying) must survive compact intact — flattening the inner
    level would let replayed batches double-count and break partition
    discovery for subsequent writers."""
    import glob

    from distributed_graph_database_system_spark.sources.catalog import load_table

    e = (
        load_table(spark, sf_dir, "events")
        .withColumn("day", F.to_date("ts"))
        .withColumn("b", (F.col("event_id") % 2).cast("int"))
    )
    path = str(tmp_path / "two_level")
    e.repartition(4).write.partitionBy("day", "b").mode("overwrite").parquet(path)
    before_dirs = sorted(glob.glob(path + "/day=*/b=*"))
    assert before_dirs
    n_rows = spark.read.parquet(path).count()
    layout.compact(spark, path, target_bytes=1 << 30)
    assert sorted(glob.glob(path + "/day=*/b=*")) == before_dirs
    # no data files stranded at the day= level (flattened inner partition)
    assert not [
        f
        for d in glob.glob(path + "/day=*")
        for f in glob.glob(d + "/*.parquet")
    ]
    assert spark.read.parquet(path).count() == n_rows


def test_zorder_key_is_nonnegative_long_at_four_columns(spark, sf_dir):
    """bits=8 × 4 cols puts the top bit at position 31 — on a 32-bit key
    that overflows into the sign bit and reverses the range partitioning
    for the highest ranks; the key must be a long and never negative."""
    from distributed_graph_database_system_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    z = layout.zorder_key(
        li, ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"], bits=8
    )
    stats = li.select(z.alias("z")).agg(
        F.min("z").alias("lo"), F.max("z").alias("hi")
    ).first()
    assert stats["lo"] >= 0
    # the top interleave bit (position 31) must actually be reachable
    assert stats["hi"] > (1 << 30)


def test_sorted_within_partitions_keeps_rows(spark, sf_dir):
    from distributed_graph_database_system_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    s = layout.sorted_within_partitions(e, ["ts"])
    assert s.count() == e.count()
    # no shuffle added: sortWithinPartitions is a local sort
    assert layout.shuffle_count(s) == 0


def test_surgical_delete_rewrites_only_affected_partitions(spark, sf_dir, tmp_path):
    """GDPR-style delete: rows gone, survivors intact, partitions without
    matches keep their files bit-for-bit (same names + mtimes), and a
    fully-matching partition's directory is removed."""
    import os

    from pyspark.sql import functions as F

    from distributed_graph_database_system_spark.sources.layout import surgical_delete

    path = str(tmp_path / "events_by_day")
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", F.to_date(F.col("ts").cast("timestamp")).alias("day")
    )
    # craft one partition whose EVERY row belongs to the target user
    target = e.orderBy("event_id").first()["user_id"]
    e = e.withColumn(
        "day",
        F.when(F.col("user_id") == target, F.lit("1970-01-01").cast("date")).otherwise(
            F.col("day")
        ),
    )
    e.write.partitionBy("day").mode("overwrite").parquet(path)

    def file_state():
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.stat(p).st_mtime_ns
        return out

    before = file_state()
    n_target = spark.read.parquet(path).where(F.col("user_id") == target).count()
    assert n_target > 0

    stats = surgical_delete(spark, path, F.col("user_id") == target)
    assert stats["deleted_rows"] == n_target
    assert stats["removed_partitions"] >= 1  # the crafted all-target day

    after_df = spark.read.parquet(path)
    assert after_df.where(F.col("user_id") == target).count() == 0
    assert (
        after_df.count()
        == spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("user_id") != target)
        .count()
    )

    # untouched partitions: identical file paths AND mtimes
    after = file_state()
    touched_dirs = {
        os.path.dirname(p) for p in set(before) ^ set(after)
    } | {
        os.path.dirname(p)
        for p in set(before) & set(after)
        if before[p] != after[p]
    }
    all_dirs = {os.path.dirname(p) for p in before}
    assert touched_dirs and len(touched_dirs) < len(all_dirs)
    untouched = all_dirs - touched_dirs
    for p, m in before.items():
        if os.path.dirname(p) in untouched:
            assert after.get(p) == m, p

    # idempotent second call: no matches, nothing rewritten
    stats2 = surgical_delete(spark, path, F.col("user_id") == target)
    assert stats2 == {
        "deleted_rows": 0,
        "rewritten_partitions": 0,
        "removed_partitions": 0,
    }


def test_surgical_delete_refuses_unpartitioned(spark, sf_dir, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from distributed_graph_database_system_spark.sources.layout import surgical_delete

    path = str(tmp_path / "flat")
    spark.read.parquet(f"{sf_dir}/events.parquet").write.parquet(path)
    with pytest.raises(ValueError, match="no hive partitions"):
        surgical_delete(spark, path, F.col("user_id") == 1)


def test_surgical_delete_handles_escaped_partition_values(spark, tmp_path):
    """Partition values needing hive path escaping (spaces) must still have
    their fully-deleted directories removed — the raw-f-string failure the
    escaping exists to prevent."""
    from pyspark.sql import functions as F

    from distributed_graph_database_system_spark.sources.layout import surgical_delete

    path = str(tmp_path / "escaped")
    df = spark.createDataFrame(
        [(1, "us east"), (2, "us east"), (3, "eu west"), (4, "eu west")],
        "id BIGINT, region STRING",
    )
    df.write.partitionBy("region").mode("overwrite").parquet(path)
    stats = surgical_delete(spark, path, F.col("region") == "us east")
    assert stats == {
        "deleted_rows": 2,
        "rewritten_partitions": 0,
        "removed_partitions": 1,
    }
    left = spark.read.parquet(path)
    assert {r.region for r in left.select("region").distinct().collect()} == {
        "eu west"
    }
    import os

    assert not any("us" in d for d in os.listdir(path) if "=" in d)


@pytest.mark.parametrize(
    "op, tag",
    [
        pytest.param("surgical_delete", "delete", id="surgical_delete"),
        pytest.param("merge_into", "merge", id="merge_into"),
    ],
)
def test_surgical_delete_rerun_after_crash_restores_backup(spark, tmp_path, op, tag):
    """Crash-injection for the rerun-after-crash data-loss bug: a prior
    run that died BETWEEN renaming originals aside and renaming survivors
    in leaves `path` readable-but-missing partitions and `__<tag>_bak`
    holding the only copy of their rows. The rerun used to
    fs.delete(bak) unconditionally — destroying those rows. It must
    instead restore the missing partitions from the backup first, then
    complete the delete with zero survivor loss. Both per-partition
    rewrites share the recovery: surgical_delete by predicate, and
    merge_into with an empty upsert plus a delete frame of the same rows."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from distributed_graph_database_system_spark.sources.layout import (
        merge_into,
        surgical_delete,
    )

    path = str(tmp_path / "crash_ds")
    rows = [(i, ["a", "b", "c"][i % 3], i % 7 == 0) for i in range(210)]
    df = spark.createDataFrame(rows, "id INT, g STRING, doomed BOOLEAN")
    df.write.partitionBy("g").mode("overwrite").parquet(path)

    def delete_rows(predicate) -> int:
        if op == "surgical_delete":
            return surgical_delete(spark, path, predicate)["deleted_rows"]
        stats = merge_into(
            spark,
            path,
            spark.createDataFrame([], df.schema),
            ["id"],
            deletes=df.where(predicate).select("id"),
        )
        return stats["deleted"]

    # Simulate the crashed first half of a delete targeting partitions
    # a and b: their directories were renamed aside; no survivor came back.
    bak = f"{path}__{tag}_bak"
    os.makedirs(bak)
    for g in ("g=a", "g=b"):
        os.rename(f"{path}/{g}", f"{bak}/{g}")
    # Stale staging from the same crashed run, with a partial survivor set
    # that must NOT be trusted (rerun recomputes survivors from scratch).
    tmp = f"{path}__{tag}_tmp"
    os.makedirs(f"{tmp}/g=a")

    deleted = delete_rows(F.col("doomed"))
    assert not os.path.exists(bak) and not os.path.exists(tmp)

    after = spark.read.parquet(path)
    # every non-doomed row — INCLUDING those of the crashed-aside a and b
    # partitions — survived; every doomed row is gone
    assert after.where("doomed").count() == 0
    expect = sorted(i for i, _g, d in rows if not d)
    assert sorted(r.id for r in after.select("id").collect()) == expect
    assert deleted == sum(1 for _i, _g, d in rows if d)

    # Mixed-progress crash: partition c's staged survivor rename COMPLETED
    # (its path dir already holds post-delete data) while its bak dir still
    # exists — recovery must keep the completed copy, not clobber it.
    before_c = sorted(
        r.id for r in spark.read.parquet(path).where("g = 'c'").collect()
    )
    os.makedirs(f"{bak}")
    shutil.copytree(f"{path}/g=c", f"{bak}/g=c")
    assert delete_rows(F.lit(False)) == 0
    assert not os.path.exists(bak)
    after_c = sorted(
        r.id for r in spark.read.parquet(path).where("g = 'c'").collect()
    )
    assert after_c == before_c


def test_merge_into_partition_pruned_upsert_delete(spark, tmp_path):
    """MERGE semantics + pruning: updates replace rows in place, inserts
    land (including a brand-new partition), deletes remove keys, a key
    that MOVES partitions leaves the old one and appears in the new one,
    deletes win over upserts for the same key — and the one untouched
    partition's files stay bit-for-bit (same paths + mtimes)."""
    import os

    from pyspark.sql import functions as F

    from distributed_graph_database_system_spark.sources.layout import merge_into

    path = str(tmp_path / "merged_ds")
    rows = [
        (1, "a", 10.0), (2, "a", 20.0),
        (3, "b", 30.0), (4, "b", 40.0),
        (5, "c", 50.0), (6, "c", 60.0),  # partition c: untouched
    ]
    spark.createDataFrame(rows, "k INT, g STRING, v DOUBLE").write.partitionBy(
        "g"
    ).mode("overwrite").parquet(path)

    def file_state(sub):
        d = f"{path}/g={sub}"
        return {
            f: os.stat(os.path.join(d, f)).st_mtime_ns
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    c_before = file_state("c")

    upserts = spark.createDataFrame(
        [
            (1, "a", 11.0),   # update in place
            (3, "a", 33.0),   # key MOVES b → a
            (7, "d", 70.0),   # insert into a brand-new partition
            (9, "a", 90.0),   # upsert that the delete below overrides
        ],
        "k INT, g STRING, v DOUBLE",
    )
    deletes = spark.createDataFrame([(4,), (9,)], "k INT")
    stats = merge_into(spark, path, upserts, ["k"], deletes=deletes)
    assert stats["updated"] == 2      # keys 1 and 3 existed
    assert stats["inserted"] == 1     # key 7 (9 was deleted pre-insert)
    assert stats["deleted"] == 1      # key 4 existed; 9 did not
    assert stats["rewritten_partitions"] >= 2  # a, b, d
    assert not os.path.exists(path + "__merge_bak")
    assert not os.path.exists(path + "__merge_tmp")

    got = {
        r.k: (r.g, r.v)
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        1: ("a", 11.0),
        2: ("a", 20.0),
        3: ("a", 33.0),   # moved
        5: ("c", 50.0),
        6: ("c", 60.0),
        7: ("d", 70.0),
    }
    assert file_state("c") == c_before  # untouched partition: same bytes

    # a no-op merge (keys that don't exist, empty upserts) touches nothing
    empty = spark.createDataFrame([], "k INT, g STRING, v DOUBLE")
    stats2 = merge_into(spark, path, empty, ["k"])
    assert stats2 == {
        "updated": 0, "inserted": 0, "deleted": 0,
        "rewritten_partitions": 0, "removed_partitions": 0,
    }

    # crash recovery shares surgical_delete's restore: a leftover
    # __merge_bak partition missing from path is renamed back in first
    import shutil

    os.makedirs(path + "__merge_bak", exist_ok=True)
    shutil.move(f"{path}/g=d", path + "__merge_bak/g=d")
    up2 = spark.createDataFrame([(2, "a", 22.0)], "k INT, g STRING, v DOUBLE")
    merge_into(spark, path, up2, ["k"])
    after = {r.k: (r.g, r.v) for r in spark.read.parquet(path).collect()}
    assert after[7] == ("d", 70.0)   # restored, not destroyed
    assert after[2] == ("a", 22.0)

    # schema mismatch is refused
    import pytest

    with pytest.raises(ValueError, match="schema"):
        merge_into(
            spark, path,
            spark.createDataFrame([(1, "a")], "k INT, g STRING"), ["k"],
        )
    # a fully-deleted partition's directory is removed
    merge_into(
        spark, path, empty,
        ["k"],
        deletes=spark.createDataFrame([(7,)], "k INT"),
    )
    assert not os.path.exists(f"{path}/g=d")
    assert spark.read.parquet(path).where(F.col("k") == 7).isEmpty()


def test_merge_into_rejects_duplicate_upsert_keys(spark, tmp_path):
    """Two changes to one key in a single merge would both land as
    duplicate target rows — refused with a pre-compaction instruction."""
    import pytest

    from distributed_graph_database_system_spark.sources.layout import merge_into

    path = str(tmp_path / "dup_ds")
    spark.createDataFrame(
        [(1, "a", 1.0)], "k INT, g STRING, v DOUBLE"
    ).write.partitionBy("g").mode("overwrite").parquet(path)
    dup = spark.createDataFrame(
        [(1, "a", 2.0), (1, "a", 3.0)], "k INT, g STRING, v DOUBLE"
    )
    with pytest.raises(ValueError, match="pre-compact"):
        merge_into(spark, path, dup, ["k"])
    # target untouched by the refused merge
    assert {r.v for r in spark.read.parquet(path).collect()} == {1.0}


def test_merge_into_handles_escaped_and_null_partition_values(spark, tmp_path):
    """Partition values hive GENUINELY escapes ('a/b' → a%2Fb, 'x=y' →
    x%3Dy — spaces round-trip unescaped, so they prove nothing) and NULL
    partition values (__HIVE_DEFAULT_PARTITION__) must swap correctly —
    the raw f-string failure mode surgical_delete already guards against
    applies to the merge's rename map too."""
    from distributed_graph_database_system_spark.sources.layout import merge_into

    path = str(tmp_path / "esc_ds")
    spark.createDataFrame(
        [(1, "us/east", 1.0), (2, "eu=west", 2.0), (3, None, 3.0)],
        "k INT, region STRING, v DOUBLE",
    ).write.partitionBy("region").mode("overwrite").parquet(path)

    ups = spark.createDataFrame(
        [(1, "us/east", 10.0), (3, None, 30.0), (4, "us/east", 40.0)],
        "k INT, region STRING, v DOUBLE",
    )
    stats = merge_into(spark, path, ups, ["k"])
    assert stats["updated"] == 2 and stats["inserted"] == 1
    got = {r.k: (r.region, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {
        1: ("us/east", 10.0),
        2: ("eu=west", 2.0),
        3: (None, 30.0),
        4: ("us/east", 40.0),
    }


def test_dpp_join_injects_dynamic_pruning(spark, sf_dir):
    """layout_dpp_join's plan must carry a dynamicpruning subquery on the
    partition column — proof the Q1 dim filter prunes fact DIRECTORIES at
    runtime rather than scanning all months and filtering rows."""
    from distributed_graph_database_system_spark.queries.registry import (
        all_queries,
    )

    df = all_queries()["layout_dpp_join"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
