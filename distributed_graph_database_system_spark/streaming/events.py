"""Structured Streaming surface over the ``events`` fixture.

The fixture parquet is replayed as a *file stream* (N slices dropped into a
source directory, ``maxFilesPerTrigger=1``) so every operator here runs under
a genuine incremental execution with watermarks and state — the same code
path a Kafka source would drive. Each streaming operator has a batch twin
(queries/streaming_batch.py) registered with a DuckDB oracle; the pytest
suite asserts streaming output == batch output once the replay drains.

Scale notes: watermarks bound state (late rows beyond the delay are
dropped); session windows merge incrementally per key; dedup state is
per-key-bounded by the watermark. All aggregates below run in update/append
modes exactly as they would on an unbounded production stream.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_graph_database_system_spark.sources.catalog import load_table
from distributed_graph_database_system_spark.sources.io import hadoop_path
from distributed_graph_database_system_spark.sources.layout import swap_dir

EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def replay_dir(spark: SparkSession, sf_dir: str, out_dir: str, slices: int = 8) -> str:
    """Materialize events as ``slices`` parquet files written *sequentially in
    time order* (FileStreamSource triggers files oldest-modification-first),
    so replay approximates real arrival order and watermarks never see
    wholesale time travel between micro-batches."""
    import glob
    import shutil

    src = os.path.join(out_dir, "events_stream_src")
    if os.path.isdir(src):
        # a previous replay with MORE slices would otherwise leave stale
        # slice files that replay alongside the new ones (duplicated events)
        import shutil as _shutil

        _shutil.rmtree(src)
    os.makedirs(src, exist_ok=True)
    ev = load_table(spark, sf_dir, "events")
    sliced = ev.withColumn(
        "_slice", F.ntile(slices).over(__import__("pyspark").sql.Window.orderBy("ts"))
    )
    sliced = sliced.persist()
    try:
        for i in range(1, slices + 1):
            tmp = os.path.join(out_dir, f"_slice_{i}")
            (
                sliced.where(F.col("_slice") == i)
                .drop("_slice")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(src, f"slice-{i:03d}.parquet"))
            shutil.rmtree(tmp)
    finally:
        sliced.unpersist()
    return src


def events_stream(spark: SparkSession, src: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


# --- Windowed aggregates (watermark + tumbling / sliding / session) --------


def tumbling_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour counts per event_type; watermark bounds state and
    drops rows later than `watermark` behind the max seen ts. Money sums use
    the same exact-decimal discipline as the batch twin so streaming and
    batch results are bit-identical, not merely close."""
    from distributed_graph_database_system_spark.queries.helpers import dsum

    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


def sliding_value_sum(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Sliding 2-hour windows every 1 hour: each row lands in 2 windows."""
    from distributed_graph_database_system_spark.queries.helpers import dsum

    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


def hopping_type_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """HOPPING 2-hour windows every 30 minutes, keyed by event_type: each
    row lands in 4 overlapping windows (the generic hop shape between
    tumbling's slide==width and sliding_value_sum's 2-bucket case). State
    per key is 4 open windows × |event_type|, GC'd by the watermark."""
    from distributed_graph_database_system_spark.queries.helpers import dsum

    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


def session_window_stats(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (gap-merged incrementally by the state
    store) — the streaming twin of the batch ``sessionize`` query."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events")
    )


def streaming_dedup(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once event ids within the watermark horizon — state is GC'd
    as the watermark advances, so memory is bounded on unbounded streams."""
    return stream.withWatermark("ts", watermark).dropDuplicates(["event_id", "ts"])


# --- Drivers ---------------------------------------------------------------


def run_to_memory(df: DataFrame, name: str, mode: str = "append") -> None:
    """Run a streaming DataFrame to the in-memory sink until the file replay
    drains (processAllAvailable), then stop. Test/bench helper."""
    q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_foreach_batch(df: DataFrame, batch_fn, mode: str = "update") -> None:
    """foreachBatch sink: ``batch_fn(batch_df, batch_id)`` gets each
    micro-batch as a normal DataFrame (arbitrary sinks, merge/upsert,
    multi-write). Runs until the replay drains."""
    q = df.writeStream.foreachBatch(batch_fn).outputMode(mode).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_foreach_batch_available_now(
    df: DataFrame, batch_fn, checkpoint: str, mode: str = "update"
) -> None:
    """The production run-shape of the foreachBatch pipelines:
    Trigger.AvailableNow + a durable checkpoint. Each invocation drains
    everything currently available (in maxFilesPerTrigger-sized
    micro-batches), commits source offsets to the checkpoint, and
    TERMINATES — the scheduled-batch pattern. A later invocation with the
    same checkpoint resumes AFTER the last committed offset with
    CONTINUING batch ids, which is exactly what the ledger epoch guard
    (_guard_ledger_epoch) requires of a restart."""
    q = (
        df.writeStream.foreachBatch(batch_fn)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        # an interrupted wait must not leak a live query against the
        # DURABLE checkpoint — it would keep committing offsets in the
        # background and conflict with the next invocation
        if q.isActive:
            q.stop()


@contextmanager
def _dynamic_overwrite(*sessions: SparkSession):
    """Dynamic partition-overwrite on EVERY given session for the block's
    duration, previous values restored after. foreachBatch hands the
    batch a CLONED SparkSession (streaming isolates per-batch conf — see
    ResolveWriteToStream) and a write's conf comes from the session its
    DataFrame belongs to, so ledger writes (clone) and rollup rebuilds
    (outer session) BOTH need the flag — missing one silently runs
    static and truncates every earlier batch's cells. Entered once, by
    the ledger upsert all four incremental rollups share."""
    key = "spark.sql.sources.partitionOverwriteMode"
    uniq = {id(s): s for s in sessions}
    prevs = {k: s.conf.get(key, "static") for k, s in uniq.items()}
    for s in uniq.values():
        s.conf.set(key, "dynamic")
    try:
        yield
    finally:
        for k, s in uniq.items():
            s.conf.set(key, prevs[k])


def _fold_hwm_path(contrib_path: str) -> str:
    # underscore prefix: invisible to Spark's file index, so ledger reads
    # never see it; lives INSIDE the contrib dir so a dir-level rename
    # (compact's swap) carries or retires it with the data it describes
    return contrib_path.rstrip("/") + "/_fold_hwm"


def read_fold_hwm(spark: SparkSession, contrib_path: str) -> int | None:
    """The ledger's fold high-water mark: every ``batch_id`` strictly below
    it has been folded into the ``batch_id=-1`` checkpoint cell. ``None``
    on a never-folded (or pre-hwm legacy) ledger."""
    fs, p = hadoop_path(spark, _fold_hwm_path(contrib_path))
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        txt = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return int(json.loads(txt)["fold_hwm"])


def _write_fold_hwm(spark: SparkSession, contrib_path: str, hwm: int) -> None:
    fs, p = hadoop_path(spark, _fold_hwm_path(contrib_path))
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps({"fold_hwm": int(hwm)}), "utf-8"))
    finally:
        out.close()


def _guard_ledger_epoch(
    spark: SparkSession, contrib_path: str, rollup_path: str, batch_id: int
) -> None:
    """Refuse the two silent-corruption scenarios a restarted stream can
    cause (checked by the ledger upsert all four incremental rollups
    share):

    1. rollup exists but the contrib ledger is GONE — the mid-swap crash
       window of compact_contrib_ledger (ledger parked at ``__fold_bak``),
       or an operator deleting the ledger by hand. Writing batch cells
       into a fresh near-empty ledger would rebuild under-counted rollups
       for every touched day; fail instead (restore the ``__fold_bak``
       sibling or delete the rollup to start over).
    2. the incoming ``batch_id`` sits BELOW the fold high-water mark —
       a stream restarted with a fresh checkpoint dir restarts ids at 0,
       so its live batches would collide with already-folded cells and be
       treated as committed by the next fold. Replaying the hwm batch
       itself (== hwm) is the normal at-least-once path and stays allowed.
    """
    fs, contrib_p = hadoop_path(spark, contrib_path)
    if not fs.exists(contrib_p):
        fs_r, rollup_p = hadoop_path(spark, rollup_path)
        if fs_r.exists(rollup_p):
            raise IOError(
                f"rollup upsert: {rollup_path} exists but its contrib "
                f"ledger {contrib_path} is missing — a compact() crash "
                "window or manual delete; restore the __fold_bak sibling "
                "or remove the rollup before restarting the stream"
            )
        return
    hwm = read_fold_hwm(spark, contrib_path)
    if hwm is not None and int(batch_id) < hwm:
        raise ValueError(
            f"rollup upsert: batch_id={batch_id} is below the ledger's "
            f"fold high-water mark {hwm} — the stream restarted with a "
            "fresh checkpoint dir (ids restarted at 0) against a ledger "
            "whose ids < hwm are already folded as committed; point the "
            "stream at its original checkpoint or start a new ledger"
        )


def _kmv_union(col: str):
    from distributed_graph_database_system_spark.operators.sketch import (
        kmv_union_expr,
    )

    return kmv_union_expr(col)


# A contrib ledger's value-column merges, declared ONCE: the rollup rebuild
# and compact_contrib_ledger's fold both aggregate through this table, so a
# folded ledger rebuilds bit-identical rollups. Every merge is associative
# and commutative (bottom-k is also idempotent). ``kmv_union`` truncates to
# the stamped ``kk`` column, which must be a group key (it is: a ledger's
# non-value columns are its group keys).
_MERGES = {
    "sum": F.sum,
    "max": F.max,
    "hll_union": F.hll_union_agg,
    "kmv_union": _kmv_union,
}


def _run_ledger_rollup(
    spark: SparkSession,
    stream: DataFrame,
    rollup_path: str,
    contribution,
    merges: dict[str, str],
    finish=lambda merged: merged,
    stamp=None,
) -> None:
    """The exactly-once ledger upsert behind all four incremental rollups:
    an EXACTLY-ONCE effect on top of foreachBatch's at-least-once
    execution, with plain parquet. Two idempotent steps per batch:

    1. ``contribution(batch_df)`` — the batch's partial state keyed by a
       DATE ``day`` column, materialized once — lands in its own
       ``<rollup>_contrib/day=D/batch_id=N`` ledger cells via dynamic
       partition overwrite: a replayed batch overwrites ITS OWN cells with
       identical content (file-source replay is deterministic), never
       double-appends;
    2. the rollup rows for ONLY the touched days are REBUILT from the
       ledger alone — every non-value column is a group key, each value
       column merges by its ``merges`` entry (a :data:`_MERGES` name), and
       ``finish`` derives the published columns — and swapped in with
       dynamic partition overwrite. A pure function of the ledger, so
       re-running it converges (never existing-rollup + delta: that merge
       double-counts on replay).

    A crash between the steps leaves the ledger committed and the rollup
    stale for those days; the retry redoes both and lands in the same
    state. The ledger grows one small cell per (day, batch); fold it with
    :func:`compact_contrib_ledger`.

    ``stamp = (col, value, refusal)`` names a sketch parameter stamped on
    every ledger row (CMS ``w``, KMV ``kk``). The EXISTING ledger is
    checked against it BEFORE any write — a misconfigured upsert must
    refuse without side effects, or its committed cells would brick every
    later correct upsert — raising ``ValueError(refusal(lo, hi))`` on any
    other stamped value. Pre-stamp ledger rows (NULL under mergeSchema)
    are folded into the stamped cells by the rebuild."""
    contrib_path = rollup_path.rstrip("/") + "_contrib"
    # a stamped ledger may still hold pre-stamp files: merge their schemas
    ledger_reader = spark.read.option("mergeSchema", stamp is not None)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        _guard_ledger_epoch(spark, contrib_path, rollup_path, batch_id)
        # tiny (days × groups rows): materialize once, reuse for the
        # day list AND the ledger write
        contrib = contribution(batch_df).localCheckpoint()
        days = [r["day"] for r in contrib.select("day").distinct().collect()]
        if not days:
            return
        fs, contrib_p = hadoop_path(spark, contrib_path)
        if stamp is not None and fs.exists(contrib_p):
            col, value, refusal = stamp
            ledger = ledger_reader.parquet(contrib_path)
            lo, hi = (
                ledger.agg(F.min(col), F.max(col)).first()
                if col in ledger.columns
                else (None, None)
            )
            if any(v is not None and v != value for v in (lo, hi)):
                raise ValueError(refusal(lo, hi))
        # contrib derives from batch_df → the per-batch session CLONE; the
        # rebuild derives from spark.read → the outer session. BOTH need
        # dynamic overwrite (see _dynamic_overwrite).
        with _dynamic_overwrite(spark, contrib.sparkSession):
            contrib.withColumn("batch_id", F.lit(int(batch_id))).write.partitionBy(
                "day", "batch_id"
            ).mode("overwrite").parquet(contrib_path)
            # the day filter prunes the rebuild to the touched day dirs
            ledger = ledger_reader.parquet(contrib_path).where(
                F.col("day").isin(days)
            )
            if stamp is not None:
                col, value, _ = stamp
                ledger = ledger.withColumn(
                    col,
                    F.coalesce(
                        F.col(col), F.lit(value).cast(ledger.schema[col].dataType)
                    ),
                )
            merged = ledger.groupBy(
                *[c for c in contrib.columns if c not in merges]
            ).agg(*[_MERGES[m](c).alias(c) for c, m in merges.items()])
            finish(merged).write.partitionBy("day").mode("overwrite").parquet(
                rollup_path
            )

    run_foreach_batch(stream, upsert, mode="append")


def run_incremental_daily_rollup(
    spark: SparkSession, stream: DataFrame, rollup_path: str
) -> None:
    """Maintain a day×event_type rollup table incrementally from the raw
    stream — the continuous-aggregate ("hypertable rollup") pattern:

    each micro-batch contributes partial aggregates (count + exact-decimal
    value sum), which are merged with the existing rollup rows for ONLY the
    days the batch touched, and written back with dynamic partition
    overwrite — so per batch the table rewrite is O(days-in-batch), not
    O(table). Counts and decimal sums are additive, so merge = re-aggregate
    of (existing ∪ contribution); no full-table state is held in the
    streaming job at all.

    Delivery is exactly-once through the shared ledger upsert
    (:func:`_run_ledger_rollup`): the batch's contribution lands in its own
    ``(day, batch_id)`` ledger cells, and the touched days are rebuilt from
    the ledger. The ledger accumulates one small file per (day, batch);
    fold it with :func:`compact_contrib_ledger` (``{"n": "sum",
    "dec_value": "sum"}``) without changing reads.
    """

    def contribution(batch_df: DataFrame) -> DataFrame:
        # DATE partition column: date-typed directory values round-trip
        # through hive partition inference; timestamps don't reliably.
        return batch_df.groupBy(
            F.to_date(F.col("ts")).alias("day"), F.col("event_type")
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("dec_value"),
        )

    _run_ledger_rollup(
        spark, stream, rollup_path, contribution, {"n": "sum", "dec_value": "sum"}
    )


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """The maintained rollup, surfaced with the engine's money discipline
    (exact decimal store, double at the edge)."""
    r = spark.read.parquet(rollup_path)
    return r.select(
        F.col("day").cast("timestamp").alias("day"),
        "event_type",
        "n",
        F.col("dec_value").cast("double").alias("sum_value"),
    )


def run_incremental_distinct_rollup(
    spark: SparkSession, stream: DataFrame, rollup_path: str
) -> None:
    """Incremental day×event_type DISTINCT-USER rollup — the query additive
    counters cannot maintain (distinct does not add across batches; a
    re-seen user must not count twice). The per-batch state is a mergeable
    HLL SKETCH instead of a number, same ledger design as
    :func:`run_incremental_daily_rollup`:

    1. the batch's (day, event_type) sketches land in a
       ``(day, batch_id)``-keyed ledger partition (idempotent overwrite —
       sketches are deterministic functions of the batch rows);
    2. the touched days' rollup rows are rebuilt by UNION-MERGING all
       ledger sketches for those days (register-max merge: associative,
       commutative, idempotent — merging a replayed batch's identical
       sketch twice changes nothing, which makes the read-side rebuild
       doubly safe).

    Per batch the work is O(days-in-batch × event_types) sketches of
    constant size (lgConfigK=12 ⇒ ~2.5 KB), not O(users); the rollup
    column is the estimate, within ~1.6% stderr at any cardinality."""

    def contribution(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(
            F.to_date(F.col("ts")).alias("day"), F.col("event_type")
        ).agg(F.hll_sketch_agg("user_id", 12).alias("sk"))

    _run_ledger_rollup(
        spark,
        stream,
        rollup_path,
        contribution,
        {"sk": "hll_union"},
        finish=lambda merged: merged.select(
            "day", "event_type", F.hll_sketch_estimate("sk").alias("est_users")
        ),
    )


def read_distinct_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    return spark.read.parquet(rollup_path).select(
        F.col("day").cast("timestamp").alias("day"), "event_type", "est_users"
    )


def run_incremental_cms_rollup(
    spark: SparkSession,
    stream: DataFrame,
    rollup_path: str,
    depth: int = 5,
    width: int = 256,
) -> None:
    """Incremental per-day COUNT-MIN SKETCH rollup of user event
    frequencies — the heavy-hitter twin of the HLL distinct rollup: the
    per-batch state is a day-keyed counter sketch (operators/sketch.py),
    and because CM counters are ADDITIVE, the ledger merge is a plain sum
    — the merged sketch is byte-identical to one built over the raw union
    (unlike HLL's estimate-lossless-but-approximate register-max, CM merge
    is exact by construction; asserted in tests).

    Same exactly-once ledger upsert as the other three rollups
    (:func:`_run_ledger_rollup`): the batch's (day, d, bucket, cnt, w)
    rows land in ``(day, batch_id)``-keyed ledger cells, then the touched
    days' rollup sketches are rebuilt as the ledger sum. The width rides
    along as the stamped ``w`` column, so the rebuilt rollup stays
    self-describing for cm_estimate; a ledger stamped with another width
    is refused before any write. Pre-stamp ledger files (written before
    the ``w`` stamp existed) surface NULL ``w``; the rebuild folds them
    into the stamped cell instead of splitting one (day, d, bucket)
    counter across w=NULL/w=width rows (a split cm_estimate would reject —
    or, unguarded, silently undercount). Per batch the state is
    O(days × depth × width) counters regardless of event volume or user
    skew — a hot user folds into one counter per (day, d)."""
    from distributed_graph_database_system_spark.operators.sketch import cm_sketch

    def contribution(batch_df: DataFrame) -> DataFrame:
        # THE canonical bucket pipeline (operators/sketch.py) with a
        # per-day group — the persisted ledger must stay byte-compatible
        # with cm_estimate probes, so the hashing scheme is defined once.
        return cm_sketch(
            batch_df.select(F.to_date(F.col("ts")).alias("day"), "user_id"),
            "user_id",
            depth=depth,
            width=width,
            group_cols=("day",),
        )

    _run_ledger_rollup(
        spark,
        stream,
        rollup_path,
        contribution,
        {"cnt": "sum"},
        stamp=(
            "w",
            width,
            lambda lo, hi: f"cms rollup: ledger stamped w={lo}..{hi} but this "
            f"rollup runs width={width} — widths must match",
        ),
    )


def run_incremental_kmv_rollup(
    spark: SparkSession,
    stream: DataFrame,
    rollup_path: str,
    k: int = 256,
) -> None:
    """Incremental per-day KMV (bottom-k distinct-hash) rollup — the
    SET-ALGEBRA twin of the HLL distinct rollup: HLL registers answer
    "how many distinct users per (day, type)" but cannot intersect; the
    KMV sketch store answers overlap questions (day-over-day retention of
    a type's audience, cross-type intersection on any day) from ≤ k-row
    sketches via operators/sketch.py kmv_pair_overlap.

    Same exactly-once ledger design as the other three rollups: the
    batch's per-(day, event_type) bottom-k hash ARRAY lands in a
    ``(day, batch_id)``-keyed ledger cell (idempotent overwrite — the
    sketch is a deterministic function of the batch rows), and touched
    days rebuild by bottom-k-of-union over their cells. Bottom-k is a
    semilattice (associative, commutative, idempotent — asserted in
    tests/test_sketch.py), so replays and refolds are safe by
    construction. The sketch k rides along as the stamped ``kk`` column
    (the CMS ``w`` self-description pattern); fold via
    ``compact_contrib_ledger(path, {"hs": "kmv_union"})``.

    Per batch the state is O(days × event_types × k) hashes; the rollup
    stores BOTH the day sketch (for set algebra) and the point estimate
    ``est_users`` ((k-1)·2^60/h_k, exact below k)."""
    from distributed_graph_database_system_spark.operators.sketch import (
        KMV_SPACE,
        kmv_sketch,
    )

    def contribution(batch_df: DataFrame) -> DataFrame:
        return (
            kmv_sketch(
                batch_df.select(
                    F.to_date(F.col("ts")).alias("day"), "event_type", "user_id"
                ),
                "user_id",
                k=k,
                group_cols=("day", "event_type"),
            )
            .groupBy("day", "event_type")
            .agg(F.sort_array(F.collect_list("h")).alias("hs"))
            .withColumn("kk", F.lit(int(k)).cast("int"))
        )

    def finish(merged: DataFrame) -> DataFrame:
        return merged.withColumn(
            "est_users",
            F.when(
                F.size("hs") < F.col("kk"), F.size("hs").cast("double")
            ).otherwise(
                (F.col("kk") - 1).cast("double")
                * F.lit(float(KMV_SPACE))
                / F.element_at("hs", F.col("kk")).cast("double")
            ),
        ).select("day", "event_type", "hs", "kk", "est_users")

    _run_ledger_rollup(
        spark,
        stream,
        rollup_path,
        contribution,
        {"hs": "kmv_union"},
        finish=finish,
        stamp=(
            "kk",
            k,
            lambda lo, hi: f"kmv rollup: ledger stamped kk={lo}..{hi} but "
            f"this rollup runs k={k} — k is fixed per ledger",
        ),
    )


def read_kmv_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """The per-day sketch table ``(day, event_type, hs, kk, est_users)``;
    ``hs`` rows explode back to (group, h) form for
    operators/sketch.py kmv_pair_overlap / kmv_merge set algebra."""
    return spark.read.parquet(rollup_path).select(
        F.col("day").cast("timestamp").alias("day"),
        "event_type",
        "hs",
        "kk",
        "est_users",
    )


def compact_contrib_ledger(
    spark: SparkSession,
    contrib_path: str,
    value_aggs: dict[str, str],
) -> dict[str, int]:
    """Fold a rollup ``_contrib`` ledger: every cell EXCEPT the latest
    batch's merges into a per-day checkpoint cell (``batch_id = -1``),
    bounding both the ledger's partition count and the rebuild cost —
    without this, a ledger grows one ``(day, batch_id)`` partition per
    batch FOREVER and every rebuild sums an ever-longer list (the
    classic changelog-compaction problem; directory-level compact() in
    sources/layout.py cannot help because it preserves the hive chain,
    and the chain itself is the growth).

    ``value_aggs`` maps each value column to its merge function, a
    :data:`_MERGES` name (the table the rollup rebuild also merges
    through) — ``"sum"`` (additive counters: counts, CM cells, decimal
    sums), ``"max"`` (register-max merges), ``"hll_union"`` (HLL sketch
    binaries), ``"kmv_union"`` (bottom-k hash arrays; requires the
    stamped ``kk`` column, which is a group key, as the truncation
    bound). Every other non-``batch_id`` column is a group key. All
    four merge functions are associative+commutative (bottom-k is also
    idempotent), so the folded ledger rebuilds BIT-identical rollups.

    Replay safety: checkpointed foreachBatch redelivers at most the
    LATEST (uncommitted) batch after a crash; committed earlier batches
    never replay. Only batches ``< max(batch_id)`` fold, so a replayed
    latest batch still overwrites its own live ``(day, max)`` cells and
    converges; the checkpoint id -1 sits below every real epoch id, so
    refolding is idempotent (an old checkpoint folds into the new one).
    Do NOT fold a ledger whose stream is mid-batch — run it from
    maintenance, not inside upsert.

    Batch-id epochs: folding assumes ids are monotone from ONE checkpoint
    lineage. The fold records ``max(batch_id)`` as a high-water mark
    (``_fold_hwm`` inside the ledger dir); a stream restarted with a fresh
    checkpoint dir (ids restart at 0) is rejected both here (refuses to
    fold an epoch whose max id sits below the mark) and at upsert time
    (``_guard_ledger_epoch``), instead of silently folding live batches
    as committed.

    The swap is compact()'s crash-safe one (``sources.layout.swap_dir``,
    tag ``fold``): stage to a tmp sibling, originals aside to a
    recoverable ``__fold_bak``, staged dir in, only then drop the backup.
    A mid-swap crash leaves the ledger absent → the rerun fails loudly at
    spark.read with the backup intact.

    Returns ``{"folded_cells", "partitions_before", "partitions_after"}``.
    """
    unknown = {a for a in value_aggs.values() if a not in _MERGES}
    if unknown:
        raise ValueError(f"compact_contrib_ledger: unknown agg(s) {unknown}")
    led = spark.read.option("mergeSchema", "true").parquet(contrib_path)
    if "batch_id" not in led.columns:
        raise ValueError(
            f"compact_contrib_ledger: {contrib_path} has no batch_id — "
            "not a contrib ledger"
        )
    parts_before = led.select("day", "batch_id").distinct().count()
    max_bid = led.agg(F.max("batch_id")).first()[0]
    prev_hwm = read_fold_hwm(spark, contrib_path)
    if prev_hwm is not None and max_bid < prev_hwm:
        raise ValueError(
            f"compact_contrib_ledger: live max batch_id {max_bid} is below "
            f"the recorded fold high-water mark {prev_hwm} — the stream "
            "restarted with a fresh checkpoint dir, so these ids belong to "
            "a NEW epoch and folding them would commit live batches; "
            "refusing (see _guard_ledger_epoch)"
        )
    group_cols = [
        c for c in led.columns if c != "batch_id" and c not in value_aggs
    ]
    folded = (
        led.where(F.col("batch_id") < max_bid)
        .groupBy(*group_cols)
        .agg(*[_MERGES[a](c).alias(c) for c, a in value_aggs.items()])
        .withColumn("batch_id", F.lit(-1))
        .select(*led.columns)
    )
    new_ledger = folded.unionByName(
        led.where(F.col("batch_id") == max_bid).select(*led.columns)
    )
    swap_dir(
        spark,
        contrib_path,
        "fold",
        new_ledger.write.partitionBy("day", "batch_id").mode("overwrite").parquet,
    )
    # record the fold epoch INSIDE the new dir: every id < max_bid is now
    # committed-and-folded; _guard_ledger_epoch rejects upserts below it
    # (fresh-checkpoint id restarts). A crash before this write loses only
    # the guard, never data — the next fold re-stamps it.
    _write_fold_hwm(spark, contrib_path, int(max_bid))
    after = spark.read.parquet(contrib_path)
    parts_after = after.select("day", "batch_id").distinct().count()
    return {
        "folded_cells": int(parts_before - parts_after),
        "partitions_before": int(parts_before),
        "partitions_after": int(parts_after),
    }


def read_cms_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """The per-day sketch table ``(day, d, bucket, cnt, w)``; feed one
    day's rows to operators.sketch.cm_estimate for heavy-hitter queries —
    the stamped ``w`` lets the probe derive the build width.

    Purely pre-stamp rollups (no ``w`` in any file) are tolerated: they
    come back WITHOUT the ``w`` column and cm_estimate then requires its
    explicit ``width=`` argument (the legacy contract). Mixed rollups
    (some days rebuilt post-stamp) surface NULL ``w`` for the legacy days
    via mergeSchema — cm_estimate rejects those with a migration message;
    replaying any batch for that day through run_incremental_cms_rollup
    re-stamps it."""
    df = spark.read.option("mergeSchema", "true").parquet(rollup_path)
    cols = [F.col("day").cast("timestamp").alias("day"), "d", "bucket", "cnt"]
    if "w" in df.columns:
        cols.append("w")
    return df.select(*cols)


def stateful_user_counts(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a running
    per-user event counter emitted on every update — the
    (flat)MapGroupsWithState equivalent in PySpark."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id BIGINT, n_events BIGINT"
    state_schema = "n BIGINT"

    def update_fn(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return stream.groupBy("user_id").applyInPandasWithState(
        update_fn,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_user_counts_tws(stream: DataFrame) -> DataFrame:
    """The SAME running per-user counter on Spark 4's transformWithState
    API (StatefulProcessor + typed state variables) — the successor to
    applyInPandasWithState above: named state ("n" ValueState) instead
    of a single tuple, explicit init/close lifecycle, and timers/TTL
    available when needed. Requires the RocksDB state store provider
    (the caller sets spark.sql.streaming.stateStore.providerClass) AND
    the protobuf Python package (the state API client speaks protobuf to
    the JVM state server — absent in this container, so the convergence
    test in tests/test_streaming.py importorskips; the operator is
    cluster-ready as written). Emitted rows converge to the same batch
    ground truth as the applyInPandasWithState twin."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    output_schema = "user_id BIGINT, n_events BIGINT"

    class CountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._n.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=CountProcessor(),
        outputStructType=output_schema,
        outputMode="Update",
        timeMode="None",
    )
