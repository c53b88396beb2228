"""Data layout for scale: partitioned writes (→ partition pruning) and
bucketed tables (→ co-located, shuffle-free joins).

At 100 TB the two dominant avoidable costs are (a) scanning data the query
does not need and (b) re-shuffling fact tables for every join/agg on the same
key. Both are LAYOUT problems, paid once at write time:

- :func:`write_partitioned` — hive-style directory partitioning on a
  low-cardinality derived column (e.g. the event date). Catalyst prunes whole
  directories at planning time (``PartitionFilters`` in the scan node), so a
  one-day query over a year of data opens ~1/365th of the files. Combined
  with :func:`sorted_within_partitions` the parquet row-group min/max stats
  prune further inside each file.
- :func:`write_bucketed` — pre-hash-partition and sort each side by the
  join/agg key into a fixed bucket count. A sort-merge join of two tables
  bucketed on the same key with the same count plans with NO Exchange on
  either side (asserted in ``tests/test_layout.py``); repeated fact-to-fact
  joins amortize one write-time shuffle across every subsequent query.

Local-mode note: buckets are regular files under the session warehouse; on a
real cluster the same API yields HDFS/S3 directories and the identical
no-Exchange plans — bucketing metadata lives in the catalog, not the path.

Reference parity: the reference has no storage-layout controls at all — its
single at-rest format is a dense text matrix re-read from disk on every query
(``primaryServer.c:43-49``, ``secondaryServer.c:208-228``).
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from distributed_graph_database_system_spark.sources.io import hadoop_path


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet hive-partitioned by ``partition_cols``.

    Partition columns should be LOW cardinality (dates, regions, sources —
    not ids): each distinct tuple becomes a directory, and a million tiny
    directories is its own scale failure.
    """
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned dataset; filters on partition columns prune
    directories (check ``PartitionFilters`` via :func:`physical_plan`)."""
    return spark.read.parquet(path)


def sorted_within_partitions(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Cluster rows inside each output file by ``cols`` so parquet row-group
    min/max statistics become selective for range predicates on those columns
    — the poor man's z-order, no shuffle added."""
    return df.sortWithinPartitions(*cols)


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    buckets: int,
    sort: Sequence[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (and bucket-sorted) catalog table.

    Both sides of a co-located join must use the SAME bucket count and key;
    ``sort`` (defaults to ``keys``) lets the sort-merge join skip its sort.
    ``path`` makes the table external (data outside the warehouse dir).
    """
    w = df.write.bucketBy(buckets, *keys).sortBy(*(sort or keys)).mode(mode)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back with its bucket metadata (must go through
    the catalog — ``spark.read.parquet`` on the files forgets the layout)."""
    return spark.table(table)


def zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 8,
    relative_error: float = 0.01,
):
    """A Morton (Z-order) key column interleaving the bits of per-column
    quantile-bucket ranks — multi-dimensional clustering so parquet row-group
    min/max stats stay selective for predicates on ANY of ``cols``, not just
    the first sort key (the lakehouse ``OPTIMIZE ZORDER BY`` technique).

    Bucket boundaries come from ``approxQuantile`` (Greenwald-Khanna sketch):
    one bounded driver-side collect of ``2^bits`` cut points per column —
    analogous to collecting IVF centroids, NOT a per-row driver loop. Rank
    lookup and bit interleaving are pure column expressions (codegen'd);
    the returned Column is usable in :func:`zorder_write` or directly in
    ``repartitionByRange``.
    """
    from pyspark.sql import functions as F

    n_buckets = 1 << bits
    if bits * len(cols) > 62:
        raise ValueError(
            f"zorder_key: {bits} bits × {len(cols)} cols exceeds a 64-bit key"
        )
    casted = df.select(*[F.col(c).cast("double").alias(c) for c in cols])
    # ONE Greenwald-Khanna pass collects every column's cut points together
    # (approxQuantile's multi-column form) — not len(cols) table scans.
    all_qs = casted.approxQuantile(
        list(cols), [i / n_buckets for i in range(1, n_buckets)], relative_error
    )
    per_col_rank = []
    for c, qs in zip(cols, all_qs):
        # strictly-increasing cut points (duplicates collapse on skew);
        # rank = number of cut points below the value (searchsorted), as ONE
        # higher-order filter over a literal array — compact codegen vs a
        # chain of 2^bits WHEN branches.
        cuts = sorted(set(qs))
        cuts_arr = F.array(*[F.lit(float(x)) for x in cuts])
        v = F.col(c).cast("double")
        rank = F.size(F.filter(cuts_arr, lambda cut: v > cut))
        # Stretch the rank over the FULL bit range: a low-cardinality column
        # (rank ≪ 2^bits after duplicate cuts collapse) would otherwise leave
        # its high bits always-zero, and the interleaved key's top bits —
        # which drive the range partitioning — would come entirely from the
        # other columns, un-clustering this one.
        if len(cuts) > 0:
            rank = F.floor(rank * ((1 << bits) - 1) / len(cuts))
        # long, not int: bit positions ≥ 31 (e.g. bits=8 × 4 cols) overflow a
        # 32-bit shiftleft into the sign bit, range-partitioning the highest
        # ranks FIRST and silently destroying that dimension's clustering.
        per_col_rank.append(rank.cast("long"))
    # Interleave: bit b of column k lands at position b*len(cols)+k.
    z = F.lit(0).cast("long")
    for b in range(bits):
        for k, rank in enumerate(per_col_rank):
            bit = F.shiftright(rank, b).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + k))
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 8,
    partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` clustered by the Z-order of ``cols``: range-partition on
    the interleaved key (so files cover disjoint z-ranges) and sort within
    partitions (so row groups inside each file are tight on every dim)."""
    z = zorder_key(df, cols, bits=bits)
    zed = df.withColumn("__z", z)
    zed = (
        zed.repartitionByRange(partitions, "__z")
        if partitions
        else zed.repartitionByRange("__z")
    )
    (
        zed.sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def _partition_layout(fs, hpath) -> tuple[list[str], int]:
    """Discover the FULL hive partition column chain under ``hpath`` (walks
    nested ``k=v`` directory levels — a two-level ``day=D/batch_id=N``
    layout must be re-applied in full or the rewrite silently flattens it)
    and count the leaf partition directories (sizes compact's per-directory
    salt). Returns ``([], 1)`` for unpartitioned data."""
    cols: list[str] = []
    frontier = [hpath]
    while True:
        subdirs = [
            seg.getPath()
            for d in frontier
            for seg in fs.listStatus(d)
            if seg.isDirectory() and "=" in seg.getPath().getName()
        ]
        if not subdirs:
            return cols, max(1, len(frontier) if cols else 1)
        names = {p.getName().split("=", 1)[0] for p in subdirs}
        if len(names) != 1:
            raise ValueError(
                f"compact: inconsistent partition columns {sorted(names)} "
                f"under {hpath}"
            )
        cols.append(next(iter(names)))
        frontier = subdirs


def compact(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a parquet dataset into ~``target_bytes`` data files per
    partition directory and return the repartition width. Small-file
    proliferation (streaming sinks, per-batch appends) is a first-order
    scale problem: a 100 TB table in 1 MB files means 10^8 scan tasks and a
    metadata-bound driver. Routed through the Hadoop FileSystem API, so it
    works on any supported URI, not just local paths.

    Hive-partitioned datasets keep their layout: inferred partition columns
    are re-applied with ``partitionBy`` on the rewrite, so directory pruning
    (and any partition-overwrite writer feeding the dataset) still works.
    Within each partition directory the rewrite shuffles on (partition cols,
    bounded deterministic salt), so an oversized partition splits into
    multiple ~``target_bytes`` files instead of collapsing to one file per
    directory (which hashing the partition columns alone would do).

    The rewrite is swapped in by :func:`swap_dir` (tag ``compact``): at
    every intermediate step the data exists at ``path`` or at a
    recoverable ``__compact_bak`` sibling.
    """
    import math

    fs, hpath = hadoop_path(spark, path)
    total = fs.getContentSummary(hpath).getLength()
    n = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(path)
    # Partition columns discovered from the directory tree itself — the
    # FULL nested chain (e.g. day=D/batch_id=N), in directory order, so the
    # rewrite re-applies the exact layout writers and readers depend on.
    part_cols, n_leaf_dirs = _partition_layout(fs, hpath)
    if part_cols:
        from pyspark.sql import functions as F

        # repartition(n, *part_cols) hashes ONLY the partition columns, so
        # every hive partition would collapse into exactly one output file
        # no matter its size. Add a bounded salt derived from a stable row
        # hash: each partition directory can now split into up to
        # ceil(n / #leaf-dirs) files of ~target_bytes while rows of one
        # (partition, salt) still land together. Deterministic (xxhash64,
        # no RNG state) over the hashable columns — MapType has no Spark
        # hash expression; a dataset that is ONLY maps + partition cols
        # falls back to the one-file-per-partition behavior.
        per_dir = max(1, math.ceil(n / n_leaf_dirs))
        hashable = [
            c for c, t in df.dtypes if not t.startswith("map<")
        ]
        if hashable:
            salt = F.pmod(F.xxhash64(*hashable), F.lit(per_dir))
        else:
            salt = F.lit(0)
        w = df.withColumn("__salt", salt).repartition(n, *part_cols, "__salt").drop(
            "__salt"
        )
    else:
        w = df.repartition(n)
    writer = w.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    swap_dir(spark, path, "compact", writer.parquet)
    return n


def swap_dir(spark: SparkSession, path: str, tag: str, stage) -> None:
    """Replace the whole directory ``path`` with what ``stage(tmp)``
    writes, crash-safely: the rewrite lands in a ``__<tag>_tmp`` sibling,
    the original is renamed ASIDE to ``__<tag>_bak`` (not deleted), the
    tmp renamed in, and only then is the backup deleted — at every
    intermediate step the data exists at ``path`` or at the backup. A
    failed swap-in renames the backup back. Shared by :func:`compact`
    and the rollup ledger fold (``streaming.events.compact_contrib_ledger``).
    """
    base = path.rstrip("/")
    tmp, bak = f"{base}__{tag}_tmp", f"{base}__{tag}_bak"
    fs, hpath = hadoop_path(spark, path)
    _, tmp_p = hadoop_path(spark, tmp)
    _, bak_p = hadoop_path(spark, bak)
    fs.delete(tmp_p, True)  # stale staging from an earlier failed run
    stage(tmp)
    fs.delete(bak_p, True)  # stale backup from an earlier failed run
    if not fs.rename(hpath, bak_p):
        raise IOError(f"{tag}: backup rename {path} -> {bak} failed")
    if not fs.rename(tmp_p, hpath):
        fs.rename(bak_p, hpath)  # roll back; original data restored
        raise IOError(f"{tag}: rename {tmp} -> {path} failed (rolled back)")
    fs.delete(bak_p, True)


def physical_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string (``explain`` only prints)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle-exchange operators in the physical plan — the
    metric bucketing exists to drive to zero. Counts formatted-mode
    ``(n) Exchange`` nodes; broadcast exchanges (``BroadcastExchange``)
    are not shuffles and don't match."""
    return len(re.findall(r"\(\d+\)\s+Exchange\b", physical_plan(df)))


def _hive_dirname(jvm, col: str, value) -> str:
    """One partition path segment using the WRITER's own escaping
    (ExternalCatalogUtils: special chars %-encoded, NULL →
    __HIVE_DEFAULT_PARTITION__) — a raw f-string would miss e.g.
    'a/b' → 'a%2Fb' and the stale files would silently survive a swap.
    Single definition shared by surgical_delete and merge_into so the
    rename maps cannot drift from each other."""
    esc = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    if value is None:
        return f"{esc.escapePathName(col)}=__HIVE_DEFAULT_PARTITION__"
    return f"{esc.escapePathName(col)}={esc.escapePathName(str(value))}"


def _fs_rename(fs, jvm, src: str, dst: str, what: str) -> None:
    """Rename creating the destination's parent chain (nested partition
    columns need it); a False return from the FS is surfaced as an error
    rather than silently leaving the swap half-done."""
    dst_p = jvm.org.apache.hadoop.fs.Path(dst)
    parent = dst_p.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(src), dst_p):
        raise IOError(f"{what}: rename {src} -> {dst} failed")


def _recover_delete_backup(fs, jvm, bak_p, root_p) -> int:
    """Roll back a crashed surgical_delete swap: rename every leaf
    partition directory under ``bak_p`` whose counterpart is missing from
    ``root_p`` back into the dataset, then drop the backup (at that point
    every remaining backup directory is shadowed by a completed staged
    rename, so nothing unique is lost). Returns the number of directories
    restored. No-op when no backup exists."""
    if not fs.exists(bak_p):
        return 0
    leaves, stack = [], [bak_p]
    while stack:
        d = stack.pop()
        subdirs = [
            k.getPath() for k in fs.listStatus(d) if k.isDirectory()
        ]
        if subdirs:
            stack.extend(subdirs)
        else:
            leaves.append(d)
    restored = 0
    bak_prefix = bak_p.toUri().getPath()
    for leaf in leaves:
        rel = leaf.toUri().getPath()[len(bak_prefix):].lstrip("/")
        if not rel:  # an empty backup root — nothing to restore
            continue
        dst = jvm.org.apache.hadoop.fs.Path(root_p, rel)
        if fs.exists(dst):
            continue  # staged survivor rename completed for this one
        parent = dst.getParent()
        if parent is not None and not fs.exists(parent):
            fs.mkdirs(parent)
        if not fs.rename(leaf, dst):
            raise IOError(
                f"surgical_delete recovery: rename {leaf} -> {dst} failed; "
                f"backup left intact at {bak_prefix} — recover manually"
            )
        restored += 1
    fs.delete(bak_p, True)
    return restored


def _partition_rewrite(spark: SparkSession, path: str, tag: str, what: str):
    """Open a per-partition rewrite of ``path`` (the shared preamble of
    :func:`surgical_delete` and :func:`merge_into`): name the
    ``__<tag>_tmp`` staging and ``__<tag>_bak`` backup siblings, roll back
    a crashed prior run FIRST — before the dataset is listed or read
    (``spark.read`` materializes its file index immediately) and before
    any delete; an unconditional delete of the backup here was the
    data-loss bug this ordering prevents — then drop stale staging and
    discover the partition chain. Unpartitioned datasets are refused:
    there is no partition to scope the rewrite to.

    Returns ``(fs, part_cols, tmp, bak)``."""
    base = path.rstrip("/")
    tmp, bak = f"{base}__{tag}_tmp", f"{base}__{tag}_bak"
    fs, hpath = hadoop_path(spark, path)
    _recover_delete_backup(fs, spark._jvm, hadoop_path(spark, bak)[1], hpath)
    fs.delete(hadoop_path(spark, tmp)[1], True)  # stale staging
    part_cols, _ = _partition_layout(fs, hpath)
    if not part_cols:
        raise ValueError(
            f"{what}: dataset has no hive partitions — a partition-scoped "
            "rewrite is impossible; use a staged full rewrite instead"
        )
    return fs, part_cols, tmp, bak


def _in_partitions(part_cols: Sequence[str], rows):
    """Row predicate: the row's partition tuple is one of ``rows``'
    (null-safe, so a NULL partition value matches its own directory)."""
    from functools import reduce

    from pyspark.sql import functions as F

    def tuple_match(row):
        return reduce(
            lambda a, b: a & b,
            (F.col(c).eqNullSafe(F.lit(row[c])) for c in part_cols),
        )

    return reduce(lambda a, b: a | b, (tuple_match(r) for r in rows))


def _swap_partitions(
    spark: SparkSession, fs, path: str, tmp: str, bak: str,
    part_cols: Sequence[str], rows, what: str,
) -> dict[str, int]:
    """Swap the staged partition directories of ``rows`` into ``path``:
    originals aside to ``bak`` (recoverable), staged ``tmp`` dirs in, and
    only then drop the backup — :func:`swap_dir`'s order per partition,
    so at every intermediate step each partition's data exists at
    ``path``, ``tmp`` or ``bak``. A partition with no original (a fresh
    insert) has nothing to move aside; one with no staged directory
    (every row deleted) has nothing to move in and is removed.

    Returns ``{"rewritten_partitions", "removed_partitions"}``."""
    jvm = spark._jvm
    subs = {
        "/".join(_hive_dirname(jvm, c, r[c]) for c in part_cols) for r in rows
    }
    for sub in subs:
        if fs.exists(hadoop_path(spark, f"{path}/{sub}")[1]):
            _fs_rename(fs, jvm, f"{path}/{sub}", f"{bak}/{sub}", what)
    rewritten = 0
    for sub in subs:
        if fs.exists(hadoop_path(spark, f"{tmp}/{sub}")[1]):
            _fs_rename(fs, jvm, f"{tmp}/{sub}", f"{path}/{sub}", what)
            rewritten += 1
    fs.delete(hadoop_path(spark, bak)[1], True)
    fs.delete(hadoop_path(spark, tmp)[1], True)
    return {
        "rewritten_partitions": rewritten,
        "removed_partitions": len(subs) - rewritten,
    }


def surgical_delete(
    spark: SparkSession, path: str, predicate
) -> dict[str, int]:
    """Delete rows matching ``predicate`` from a hive-partitioned parquet
    dataset by rewriting ONLY the partition directories that contain
    matching rows — the right-to-be-forgotten / GDPR-delete pattern. On a
    100 TB day-partitioned table, deleting one user touches the handful of
    day directories that user appears in; every other directory's files
    are left bit-for-bit untouched (asserted by inode/mtime in
    tests/test_layout.py).

    Steps: (1) one pruned-projection scan finds the affected partition
    tuples; (2) the surviving rows of ONLY those partitions are STAGED to
    a ``__delete_tmp`` sibling first — ``path`` itself is untouched until
    the staged copy is fully committed (an in-place dynamic overwrite
    would both race the survivors plan's own source files and, on a
    failure mid-commit, lose affected partitions with no backup); (3) the
    affected original directories are renamed aside to a recoverable
    ``__delete_bak`` sibling, the staged survivor directories renamed in,
    and only then is the backup deleted — :func:`compact`'s crash-safe
    swap order, so at every intermediate step the data exists at ``path``
    or at the backup. Fully-deleted partitions simply have no staged
    directory to swap in.

    Returns ``{"deleted_rows", "rewritten_partitions",
    "removed_partitions"}``. Unpartitioned datasets are refused rather
    than silently rewritten in full — the caller should use a plain
    filtered write for those.

    Rerun-after-crash: a leftover non-empty ``__delete_bak`` means a prior
    run died between renaming originals aside and renaming survivors in —
    the backup holds the ONLY copy of those partitions' rows. The rerun
    FIRST renames back every backup partition directory whose ``path``
    counterpart is missing (:func:`_recover_delete_backup`; partitions
    whose staged rename DID complete keep their survivor copy), then
    redoes the delete. The crashed run never returned, so rolling its
    partial swap back is the correct semantics — asserted by the
    crash-injection test in tests/test_layout.py.
    """
    fs, part_cols, tmp, bak = _partition_rewrite(
        spark, path, "delete", "surgical_delete"
    )
    df = spark.read.parquet(path)
    affected = df.where(predicate).select(*part_cols).distinct().collect()
    if not affected:
        return {
            "deleted_rows": 0,
            "rewritten_partitions": 0,
            "removed_partitions": 0,
        }
    in_affected = _in_partitions(part_cols, affected)
    deleted = df.where(in_affected & predicate).count()
    # Stage survivors OUTSIDE the dataset first. An in-place dynamic
    # overwrite would (a) race its own source files — the survivors plan
    # re-lists `path` at execution time — and (b) on a failure during the
    # overwrite commit, lose the affected partitions with no backup. The
    # staged write reads `path` while it is still fully intact; which
    # partitions survived is read back from the staged directory tree.
    df.where(in_affected & ~predicate).write.partitionBy(*part_cols).mode(
        "overwrite"
    ).parquet(tmp)
    return {
        "deleted_rows": int(deleted),
        **_swap_partitions(
            spark, fs, path, tmp, bak, part_cols, affected, "surgical_delete"
        ),
    }


def merge_into(
    spark: SparkSession,
    path: str,
    upserts: DataFrame,
    key_cols: Sequence[str],
    deletes: DataFrame | None = None,
) -> dict[str, int]:
    """Partition-pruned MERGE into a hive-partitioned parquet dataset —
    the CDC/upsert primitive: rows of ``upserts`` replace target rows
    with the same key or insert as new; ``deletes`` (key columns only)
    removes keys. ONLY the partition directories that contain a touched
    key, or that an upserted row lands in, are rewritten; every other
    directory's files stay bit-for-bit untouched (asserted by mtime in
    tests/test_layout.py). A key whose partition value CHANGES in the
    upsert is handled: its old partition rewrites without it, its new
    partition rewrites with it.

    Semantics: ``deletes`` wins over ``upserts`` for the same key (a CDC
    stream's terminal op). ``upserts`` must carry the target's full
    schema including the partition columns. Unpartitioned datasets are
    refused — there is nothing to prune; use a plain staged rewrite.

    Crash safety is surgical_delete's exact discipline, shared sibling
    recovery included: survivors stage to ``__merge_tmp`` while ``path``
    is fully intact, originals rename aside to ``__merge_bak``, staged
    directories rename in, and only then does the backup drop. A rerun
    after a mid-swap crash FIRST restores the backup's missing
    partitions (``_recover_delete_backup``), never deletes them.

    Returns ``{"updated", "inserted", "deleted", "rewritten_partitions",
    "removed_partitions"}``.
    """
    fs, part_cols, tmp, bak = _partition_rewrite(
        spark, path, "merge", "merge_into"
    )
    key_cols = list(key_cols)
    target = spark.read.parquet(path)
    if dict(upserts.dtypes) != dict(target.dtypes):
        # name-only comparison would let a dtype drift through: the
        # union widens silently and the rewritten partitions get a
        # different physical type than the untouched ones — a delayed
        # schema-uniformity corruption a later plain read trips over
        raise ValueError(
            f"merge_into: upsert schema {sorted(upserts.dtypes)} != "
            f"target schema {sorted(target.dtypes)}"
        )

    up_keys = upserts.select(*key_cols).distinct().localCheckpoint()
    del_keys = (
        deletes.select(*key_cols).distinct().localCheckpoint()
        if deletes is not None
        else None
    )
    touched = (
        up_keys.unionByName(del_keys).distinct() if del_keys is not None else up_keys
    )
    # stats BEFORE any mutation (bounded: key-join aggregates)
    n_deleted = (
        target.join(del_keys, key_cols, "left_semi")
        .select(*key_cols)
        .distinct()
        .count()
        if del_keys is not None
        else 0
    )
    live_upserts = (
        upserts.join(del_keys, key_cols, "left_anti")
        if del_keys is not None
        else upserts
    )
    # Pin the rows that will be WRITTEN: this plan executes several times
    # (dup-key guard, stats, affected-partition collect, staged write),
    # and a non-deterministic source (limit/sample/shuffle-dependent
    # input) could yield different rows per execution — staging rows
    # whose partition was never collected into the rename map silently
    # drops them. Same reason up_keys/del_keys are checkpointed above.
    live_upserts = live_upserts.localCheckpoint()
    n_upserted_live = live_upserts.select(*key_cols).distinct().count()
    n_upsert_rows = live_upserts.count()
    if n_upsert_rows != n_upserted_live:
        # two changes to one key in a single merge would BOTH land —
        # duplicate rows in the target. There is no ordering column to
        # arbitrate, so the caller must pre-compact (keep the last change
        # per key by its own sequence) before merging.
        raise ValueError(
            f"merge_into: upserts carry {n_upsert_rows} rows for "
            f"{n_upserted_live} distinct keys — pre-compact the changeset "
            "to one row per key (last change wins by the caller's own "
            "sequence) before merging"
        )
    matched_live = (
        target.join(
            live_upserts.select(*key_cols).distinct(), key_cols, "left_semi"
        )
        .select(*key_cols)
        .distinct()
        .count()
    )

    # affected partitions: where touched keys live now + where upserts land
    tgt_parts = (
        target.join(touched, key_cols, "left_semi")
        .select(*part_cols)
        .distinct()
        .collect()
    )
    src_parts = live_upserts.select(*part_cols).distinct().collect()
    subs_rows = {tuple(r[c] for c in part_cols): r for r in tgt_parts}
    for r in src_parts:
        subs_rows.setdefault(tuple(r[c] for c in part_cols), r)
    if not subs_rows:
        return {
            "updated": 0, "inserted": 0, "deleted": 0,
            "rewritten_partitions": 0, "removed_partitions": 0,
        }

    in_affected = _in_partitions(part_cols, subs_rows.values())
    keep = target.where(in_affected).join(touched, key_cols, "left_anti")
    merged = keep.unionByName(live_upserts.select(*target.columns))
    # ONE execution of the merged plan: the staged write IS the action;
    # which partitions survived is read back from the staged directory
    # tree (a pre-write collect of the partition tuples would run the
    # whole keep/union plan a second time for the write).
    merged.write.partitionBy(*part_cols).mode("overwrite").parquet(tmp)
    return {
        "updated": int(matched_live),
        "inserted": int(n_upserted_live - matched_live),
        "deleted": int(n_deleted),
        **_swap_partitions(
            spark, fs, path, tmp, bak, part_cols, subs_rows.values(),
            "merge_into",
        ),
    }
