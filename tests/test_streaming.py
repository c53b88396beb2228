"""Structured Streaming tests: replay the events fixture as a file stream and
assert each incremental operator converges to its batch twin, plus watermark
late-row behavior and the custom stateful operator."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from distributed_graph_database_system_spark.queries.streaming_batch import (
    stream_session_window,
    stream_tumbling_counts as batch_tumbling,
)
from distributed_graph_database_system_spark.sources.catalog import load_table
from distributed_graph_database_system_spark.streaming.events import (
    events_stream,
    hopping_type_counts,
    replay_dir,
    run_foreach_batch,
    run_to_memory,
    session_window_stats,
    stateful_user_counts,
    streaming_dedup,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def stream_src(spark, sf_dir, tmp_path_factory):
    return replay_dir(spark, sf_dir, str(tmp_path_factory.mktemp("stream")), slices=6)


def rows_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_tumbling_counts_converge_to_batch(spark, sf_dir, stream_src):
    run_to_memory(
        tumbling_counts(events_stream(spark, stream_src)), "t_tumble", mode="append"
    )
    cols = ("window_start", "event_type", "n", "sum_value")
    got = rows_set(spark.table("t_tumble"), cols)
    want = rows_set(batch_tumbling(spark, sf_dir), cols)
    # append mode emits only watermark-closed windows: everything except the
    # final open window(s) must match the batch twin exactly
    assert got <= want
    assert len(got) >= len(want) - 10  # only the stream tail can be open


def test_hopping_type_counts_converge_to_batch(spark, sf_dir, stream_src):
    """The generic hop shape (width 2h, slide 30min → 4 windows/row) over
    the replayed file stream must converge to the batch twin exactly on
    every watermark-closed (window, type) cell; only the open tail may be
    missing. Exact-decimal sums make the comparison bit-identical."""
    from distributed_graph_database_system_spark.queries.seeds_r11 import (
        stream_hopping_type_counts,
    )

    run_to_memory(
        hopping_type_counts(events_stream(spark, stream_src)),
        "t_hop",
        mode="append",
    )
    cols = ("window_start", "event_type", "n", "sum_value")
    got = rows_set(spark.table("t_hop"), cols)
    want = rows_set(stream_hopping_type_counts(spark, sf_dir), cols)
    assert got <= want
    # un-emitted cells are those whose window END exceeds maxts - 1h
    # (the watermark); with width 2h / slide 30min the qualifying window
    # starts span a 3h window-start range = up to 6 windows per
    # event_type still open at the stream tail
    n_types = 5
    assert len(got) >= len(want) - 6 * n_types


def test_session_windows_converge_to_batch(spark, sf_dir, stream_src):
    run_to_memory(
        session_window_stats(events_stream(spark, stream_src)), "t_sess", mode="append"
    )
    got = rows_set(
        spark.table("t_sess"), ("session_start", "user_id", "n_events")
    )
    want = rows_set(
        stream_session_window(spark, sf_dir),
        ("session_start", "user_id", "n_events"),
    )
    assert got <= want
    # every user's closed sessions agree; at most one open session per user
    n_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert len(got) >= len(want) - n_users


def test_streaming_dedup_drops_reinjected_duplicates(spark, sf_dir, stream_src, tmp_path):
    import shutil

    # copy the replay dir and re-inject the first slice as a duplicate file
    dup_src = str(tmp_path / "dup_src")
    shutil.copytree(stream_src, dup_src)
    files = sorted(
        f for f in __import__("os").listdir(dup_src) if f.endswith(".parquet")
    )
    shutil.copy(
        f"{dup_src}/{files[0]}", f"{dup_src}/part-redelivered.parquet"
    )

    run_to_memory(
        streaming_dedup(events_stream(spark, dup_src)), "t_dedup", mode="append"
    )
    n_events = load_table(spark, sf_dir, "events").count()
    # redelivered rows (same event_id+ts, within watermark) must be dropped
    assert spark.table("t_dedup").count() == n_events


def test_foreach_batch_sink_accumulates_all_rows(spark, stream_src):
    seen = []

    def sink(batch_df, batch_id):
        seen.append(batch_df.count())

    run_foreach_batch(
        events_stream(spark, stream_src).select("event_id"), sink, mode="append"
    )
    assert len(seen) >= 2  # one micro-batch per replay file (trigger=1 file)
    assert sum(seen) == spark.read.parquet(stream_src).count()


def test_stateful_user_counts_final_state_matches_batch(spark, sf_dir, stream_src):
    run_to_memory(
        stateful_user_counts(events_stream(spark, stream_src)),
        "t_state",
        mode="update",
    )
    # last emitted update per user == total batch count
    final = {
        r.user_id: r.n_events
        for r in spark.table("t_state")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    want = {
        r.user_id: r["count"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .count()
        .collect()
    }
    assert final == want


def test_watermark_drops_late_rows(spark, tmp_path):
    """Directly exercise late-data semantics: a row arriving behind the
    watermark must not open a new window."""
    import time

    src = str(tmp_path / "late_src")
    on_time = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
            (2, "2024-01-01 12:00:00", 1, "view", 1.0, "{}"),  # advances watermark to 11:00
        ],
        "event_id BIGINT, ts_s STRING, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    late = spark.createDataFrame(
        [(3, "2024-01-01 08:00:00", 1, "view", 1.0, "{}")],
        "event_id BIGINT, ts_s STRING, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")

    on_time.coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(on_time.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = agg.writeStream.format("memory").queryName("t_late").outputMode("update").start()
    try:
        q.processAllAvailable()
        # drop the late file in AFTER the watermark has advanced past it
        late.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        time.sleep(0.5)
        q.processAllAvailable()
    finally:
        q.stop()
    starts = {r.ws.isoformat() for r in spark.table("t_late").collect()}
    assert "2024-01-01T08:00:00" not in starts, "late row behind watermark leaked"
    assert "2024-01-01T10:00:00" in starts and "2024-01-01T12:00:00" in starts


def test_stream_static_enrichment_join(spark, sf_dir, stream_src):
    """Stream-static join: each micro-batch broadcast-joins the static
    customer dim — the standard streaming enrichment pattern."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = (
        events_stream(spark, stream_src)
        .join(F.broadcast(cust), "user_id", "left")
        .select("event_id", "user_id", "c_mktsegment")
    )
    run_to_memory(enriched, "t_enrich", mode="append")
    got = spark.table("t_enrich")
    want = (
        load_table(spark, sf_dir, "events")
        .join(F.broadcast(cust), "user_id", "left")
        .select("event_id", "user_id", "c_mktsegment")
    )
    assert got.count() == want.count()
    assert (
        got.where(F.col("c_mktsegment").isNull()).count()
        == want.where(F.col("c_mktsegment").isNull()).count()
    )


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Kill a checkpointed streaming aggregation mid-replay, restart it, and
    verify the recovered run completes to exactly the batch answer (no loss,
    no double counting)."""
    src = replay_dir(spark, sf_dir, str(tmp_path / "ckpt_replay"), slices=6)
    ckpt = str(tmp_path / "ckpt")

    def start():
        agg = (
            events_stream(spark, src)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )
        return (
            agg.writeStream.format("memory")
            .queryName("t_ckpt")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    q = start()
    try:
        # let at least one micro-batch commit, then kill mid-stream
        while q.lastProgress is None:
            import time as _t

            _t.sleep(0.2)
    finally:
        q.stop()

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = {r.event_type: r.n for r in spark.table("t_ckpt").collect()}
    want = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_stream_stream_interval_join(spark, sf_dir, stream_src):
    """Watermarked stream-stream inner join: purchase-side rows pair with
    same-user view rows from the preceding hour. Once the replay drains, the
    joined pair set must equal the batch interval join."""
    views = (
        events_stream(spark, stream_src)
        .where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_uid"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("v_id"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, stream_src)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_uid"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = purchases.join(
        views,
        (F.col("p_uid") == F.col("v_uid"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") < F.col("p_ts")),
    ).select("p_id", "v_id")
    run_to_memory(joined, "t_ssj", mode="append")
    got = {(r.p_id, r.v_id) for r in spark.table("t_ssj").collect()}

    e = load_table(spark, sf_dir, "events")
    p = e.where("event_type = 'purchase'").select(
        F.col("user_id").alias("p_uid"), F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    v = e.where("event_type = 'view'").select(
        F.col("user_id").alias("v_uid"), F.col("ts").alias("v_ts"), F.col("event_id").alias("v_id")
    )
    want = {
        (r.p_id, r.v_id)
        for r in p.join(
            v,
            (F.col("p_uid") == F.col("v_uid"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("v_ts") < F.col("p_ts")),
        )
        .select("p_id", "v_id")
        .collect()
    }
    assert got == want


def test_rate_source_smoke(spark):
    """The built-in rate source: schema (timestamp, value) and monotonically
    increasing values — the non-file streaming source family."""
    stream = spark.readStream.format("rate").option("rowsPerSecond", 100).load()
    assert [f.name for f in stream.schema.fields] == ["timestamp", "value"]
    q = (
        stream.writeStream.format("memory")
        .queryName("t_rate")
        .outputMode("append")
        .start()
    )
    try:
        import time

        deadline = time.time() + 15
        while time.time() < deadline and spark.table("t_rate").count() == 0:
            time.sleep(0.5)
    finally:
        q.stop()
    vals = [r.value for r in spark.table("t_rate").orderBy("value").collect()]
    assert vals and vals == sorted(vals) and vals[0] == 0


def test_rate_micro_batch_windowed_count_is_deterministic(spark):
    """Windowed aggregation over the non-file rate family: the
    rate-micro-batch source emits exactly rowsPerBatch rows per
    micro-batch with timestamps advancing advanceMillisPerBatch from a
    pinned startTimestamp — fully deterministic, so the tumbling-window
    counts are asserted EXACTLY, not just 'some rows arrived'. 40 rows
    per batch at 500 ms/batch from t0 → every completed 1 s tumbling
    window holds exactly two batches = 80 rows; the first two windows
    are asserted once ≥5 batches have landed (immutable from then on —
    later batches only append newer windows)."""
    start_ms = 1_700_000_000_000  # pinned epoch millis (not wall clock)
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 40)
        .option("numPartitions", 2)
        .option("startTimestamp", start_ms)
        .option("advanceMillisPerBatch", 500)
        .load()
    )
    counts = (
        stream.groupBy(F.window("timestamp", "1 second").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("t_rate_win")
        .outputMode("complete")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        # wait until the three batches (120 rows → 80+40 split) have landed
        while time.time() < deadline:
            rows = {
                (r.w_start.isoformat(), r.n)
                for r in spark.table("t_rate_win").collect()
            }
            if sum(n for _, n in rows) >= 200:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    import datetime as dt

    t0 = dt.datetime.fromtimestamp(start_ms / 1000, dt.timezone.utc).replace(
        tzinfo=None
    )
    w0, w1 = t0.isoformat(), (t0 + dt.timedelta(seconds=1)).isoformat()
    got = {
        (r.w_start.isoformat(), r.n)
        for r in spark.table("t_rate_win").collect()
        if r.w_start.isoformat() in (w0, w1)
    }
    assert (w0, 80) in got and (w1, 80) in got, got


def test_incremental_rollup_converges_to_batch_groundtruth(
    spark, sf_dir, stream_src, tmp_path
):
    """Replay the stream through the foreachBatch day-rollup; the final
    table must EXACTLY equal the one-shot batch aggregate — additive
    decimal merges lose nothing across micro-batches."""
    from distributed_graph_database_system_spark.streaming.events import (
        read_rollup,
        run_incremental_daily_rollup,
    )

    path = str(tmp_path / "rollup")
    run_incremental_daily_rollup(spark, events_stream(spark, stream_src), path)

    cols = ("day", "event_type", "n", "sum_value")
    got = rows_set(read_rollup(spark, path), cols)
    e = load_table(spark, sf_dir, "events")
    want = rows_set(
        e.groupBy(
            F.to_date("ts").cast("timestamp").alias("day"), "event_type"
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        ),
        cols,
    )
    assert got == want

    # per-batch rewrite is partition-scoped: the rollup is day-partitioned
    import glob

    assert glob.glob(path + "/day=*"), "expected hive day= partition dirs"


def test_incremental_distinct_rollup_converges_and_survives_retry(
    spark, sf_dir, stream_src, tmp_path
):
    """Sketch-state rollup: replaying the stream must give EXACTLY the
    estimates of one-shot sketches over the raw events (register-max merge
    is lossless and idempotent), including with an explicitly replayed
    batch — the case where an additive counter would double-count."""
    import distributed_graph_database_system_spark.streaming.events as EV

    path = str(tmp_path / "distinct_rollup")
    EV.run_incremental_distinct_rollup(spark, events_stream(spark, stream_src), path)

    cols = ("day", "event_type", "est_users")
    got = rows_set(EV.read_distinct_rollup(spark, path), cols)
    e = load_table(spark, sf_dir, "events")
    want = rows_set(
        e.groupBy(
            F.to_date("ts").cast("timestamp").alias("day"), "event_type"
        ).agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 12)).alias("est_users")
        ),
        cols,
    )
    assert got == want

    # retry path: drive the upsert directly with a replayed batch
    captured = {}
    orig = EV.run_foreach_batch
    EV.run_foreach_batch = lambda stream, fn, mode="update": captured.update(fn=fn)
    try:
        path2 = str(tmp_path / "distinct_rollup_retry")
        EV.run_incremental_distinct_rollup(spark, None, path2)
    finally:
        EV.run_foreach_batch = orig
    upsert = captured["fn"]
    b0 = e.where(F.col("event_id") % 2 == 0)
    b1 = e.where(F.col("event_id") % 2 == 1)
    upsert(b0, 0)
    upsert(b0, 0)  # replay
    upsert(b1, 1)
    upsert(b1, 1)  # replay
    assert rows_set(EV.read_distinct_rollup(spark, path2), cols) == want


def test_incremental_rollup_batch_retry_is_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch replays a committed batch after a crash-before-
    checkpoint-commit; the ledger + rebuild design must absorb the replay
    with NO double counting — the rollup equals the ground truth whether a
    batch ran once or twice."""
    from distributed_graph_database_system_spark.streaming.events import (
        read_rollup,
    )

    e = load_table(spark, sf_dir, "events")
    # deterministic split (a limit() would re-execute differently per branch)
    b0 = e.where(F.col("event_id") % 2 == 0)
    b1 = e.where(F.col("event_id") % 2 == 1)

    # drive the same upsert foreachBatch uses, with an explicit replay of
    # batch 0 in the middle (the at-least-once failure mode)
    import distributed_graph_database_system_spark.streaming.events as EV

    path = str(tmp_path / "rollup_retry")
    captured = {}
    orig = EV.run_foreach_batch

    def fake_runner(stream, fn, mode="update"):
        captured["fn"] = fn

    EV.run_foreach_batch = fake_runner
    try:
        EV.run_incremental_daily_rollup(spark, None, path)
    finally:
        EV.run_foreach_batch = orig
    upsert = captured["fn"]
    upsert(b0, 0)
    upsert(b0, 0)  # replayed batch
    upsert(b1, 1)
    upsert(b1, 1)  # replayed batch

    cols = ("day", "event_type", "n", "sum_value")
    got = rows_set(read_rollup(spark, path), cols)
    want = rows_set(
        e.groupBy(
            F.to_date("ts").cast("timestamp").alias("day"), "event_type"
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        ),
        cols,
    )
    assert got == want


def test_incremental_cms_rollup_is_exact_merge_and_replay_safe(
    spark, sf_dir, stream_src, tmp_path
):
    """CM counters are additive, so the incrementally-maintained per-day
    sketch must be ROW-IDENTICAL to a one-shot sketch over the raw events
    — a stronger check than estimate equality — and batch replay must not
    change a single counter (ledger overwrite idempotence)."""
    import distributed_graph_database_system_spark.streaming.events as EV

    path = str(tmp_path / "cms_rollup")
    EV.run_incremental_cms_rollup(
        spark, events_stream(spark, stream_src), path, depth=5, width=256
    )

    cols = ("day", "d", "bucket", "cnt")
    got = rows_set(EV.read_cms_rollup(spark, path), cols)
    e = load_table(spark, sf_dir, "events")
    want = rows_set(
        e.where(F.col("user_id").isNotNull())
        .select(
            F.to_date("ts").cast("timestamp").alias("day"),
            F.col("user_id").alias("_v"),
            F.explode(F.array(*[F.lit(i) for i in range(5)])).alias("d"),
        )
        .select(
            "day",
            "d",
            F.pmod(F.xxhash64("_v", "d"), F.lit(256)).cast("int").alias("bucket"),
        )
        .groupBy("day", "d", "bucket")
        .agg(F.count("*").alias("cnt")),
        cols,
    )
    assert got == want

    # replay path: drive the upsert directly with repeated batches
    captured = {}
    orig = EV.run_foreach_batch
    EV.run_foreach_batch = lambda stream, fn, mode="update": captured.update(fn=fn)
    try:
        path2 = str(tmp_path / "cms_rollup_retry")
        EV.run_incremental_cms_rollup(spark, None, path2, depth=5, width=256)
    finally:
        EV.run_foreach_batch = orig
    upsert = captured["fn"]
    b0 = e.where(F.col("event_id") % 2 == 0)
    b1 = e.where(F.col("event_id") % 2 == 1)
    upsert(b0, 0)
    upsert(b0, 0)  # replay
    upsert(b1, 1)
    upsert(b1, 1)  # replay
    assert rows_set(EV.read_cms_rollup(spark, path2), cols) == want

    # a misconfigured width is refused BEFORE any write — the wrong-width
    # batch must leave no cells behind (they would brick every later
    # correct-width upsert), and the correct-width stream keeps working
    captured_bad = {}
    EV.run_foreach_batch = lambda stream, fn, mode="update": captured_bad.update(
        fn=fn
    )
    try:
        EV.run_incremental_cms_rollup(spark, None, path2, depth=5, width=128)
    finally:
        EV.run_foreach_batch = orig
    with pytest.raises(ValueError, match="widths must match"):
        captured_bad["fn"](b1, 2)
    ws = {
        r.w
        for r in spark.read.parquet(path2 + "_contrib").select("w").distinct().collect()
    }
    assert ws == {256}, "wrong-width upsert left cells behind"
    upsert(b1, 1)
    assert rows_set(EV.read_cms_rollup(spark, path2), cols) == want

    # the rollup feeds cm_estimate directly: never undercounts a real user
    from distributed_graph_database_system_spark.operators.sketch import cm_estimate

    day0 = EV.read_cms_rollup(spark, path).orderBy("day").first()["day"]
    sk = EV.read_cms_rollup(spark, path).where(F.col("day") == day0).select(
        "d", "bucket", "cnt"
    )
    truth = (
        e.where(F.to_date("ts").cast("timestamp") == day0)
        .groupBy(F.col("user_id").alias("_v"))
        .agg(F.count("*").alias("true_cnt"))
        .limit(20)
    )
    est = cm_estimate(sk, truth, "_v", width=256)
    for r in est.collect():
        assert r.est >= r.true_cnt


def test_incremental_cms_rollup_folds_prestamp_ledger_files(
    spark, sf_dir, tmp_path
):
    """Ledger migration: contrib files written BEFORE the `w` stamp
    existed surface NULL w under mergeSchema. The rebuild must coalesce
    them into the stamped cell — one (day, d, bucket) counter, not a
    w=NULL/w=256 split — so the post-migration rollup is row-identical to
    a one-shot sketch and probes cleanly. read_cms_rollup on a purely
    pre-stamp rollup must come back without `w` and probe via width=."""
    import distributed_graph_database_system_spark.streaming.events as EV
    from distributed_graph_database_system_spark.operators.sketch import (
        cm_estimate,
        cm_sketch,
    )

    e = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "cms_migrate")
    contrib = path + "_contrib"

    # batch 0 lands as a PRE-STAMP ledger file (no w column)
    b0 = e.where(F.col("event_id") % 2 == 0)
    b1 = e.where(F.col("event_id") % 2 == 1)
    legacy = (
        cm_sketch(
            b0.select(F.to_date("ts").alias("day"), "user_id"),
            "user_id",
            depth=5,
            width=256,
            group_cols=("day",),
        )
        .drop("w")
        .withColumn("batch_id", F.lit(0))
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        legacy.write.partitionBy("day", "batch_id").mode("overwrite").parquet(
            contrib
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    # batch 1 replays through the CURRENT (stamping) upsert — its rebuild
    # must fold batch 0's legacy rows into the stamped cells
    captured = {}
    orig = EV.run_foreach_batch
    EV.run_foreach_batch = lambda stream, fn, mode="update": captured.update(fn=fn)
    try:
        EV.run_incremental_cms_rollup(spark, None, path, depth=5, width=256)
    finally:
        EV.run_foreach_batch = orig
    captured["fn"](b1, 1)

    rolled = EV.read_cms_rollup(spark, path)
    assert "w" in rolled.columns
    assert rolled.where(F.col("w").isNull() | (F.col("w") != 256)).isEmpty()
    cols = ("day", "d", "bucket", "cnt")
    got = rows_set(rolled, cols)
    want = rows_set(
        cm_sketch(
            e.select(F.to_date("ts").cast("timestamp").alias("day"), "user_id"),
            "user_id",
            depth=5,
            width=256,
            group_cols=("day",),
        ),
        cols,
    )
    assert got == want

    # a purely pre-stamp ROLLUP: read without w, probe via explicit width
    legacy_rollup = str(tmp_path / "cms_legacy_rollup")
    rolled.drop("w").write.partitionBy("day").mode("overwrite").parquet(
        legacy_rollup
    )
    lr = EV.read_cms_rollup(spark, legacy_rollup)
    assert "w" not in lr.columns
    day0 = lr.orderBy("day").first()["day"]
    truth = (
        e.where(F.to_date("ts").cast("timestamp") == day0)
        .groupBy(F.col("user_id").alias("_v"))
        .agg(F.count("*").alias("true_cnt"))
        .limit(10)
    )
    sk = lr.where(F.col("day") == day0).select("d", "bucket", "cnt")
    for r in cm_estimate(sk, truth, "_v", width=256).collect():
        assert r.est >= r.true_cnt


def test_contrib_ledger_fold_preserves_rollup_and_replay(
    spark, sf_dir, tmp_path
):
    """Ledger compaction wiring: a `_contrib` ledger grows one
    (day, batch_id) partition per batch forever — compact_contrib_ledger
    folds every committed batch into a per-day checkpoint cell
    (batch_id=-1) WITHOUT changing a single rollup value. Asserts
    (1) ledger partition and data-file counts drop, (2) a rebuild from
    the folded ledger is row-identical to the pre-fold rollup, (3) the
    latest batch REPLAYED after folding still converges (it overwrites
    its own live cells; committed batches were folded), (4) refolding is
    idempotent, and (5) the HLL distinct-rollup ledger folds through
    hll_union with identical estimates."""
    import glob as pyglob

    import distributed_graph_database_system_spark.streaming.events as EV

    e = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "cms_fold")
    contrib = path + "_contrib"
    captured = {}
    orig = EV.run_foreach_batch
    EV.run_foreach_batch = lambda stream, fn, mode="update": captured.update(fn=fn)
    try:
        EV.run_incremental_cms_rollup(spark, None, path, depth=5, width=256)
    finally:
        EV.run_foreach_batch = orig
    upsert = captured["fn"]

    batches = [e.where(F.col("event_id") % 4 == i) for i in range(4)]
    for i, b in enumerate(batches):
        upsert(b, i)

    def ledger_files():
        return sorted(pyglob.glob(f"{contrib}/**/*.parquet", recursive=True))

    cols = ("day", "d", "bucket", "cnt", "w")
    before_rollup = rows_set(EV.read_cms_rollup(spark, path), cols)
    files_before = len(ledger_files())

    stats = EV.compact_contrib_ledger(spark, contrib, {"cnt": "sum"})
    assert stats["partitions_after"] < stats["partitions_before"]
    assert len(ledger_files()) < files_before
    # batches 0..2 folded into batch_id=-1; batch 3 (latest) kept live
    bids = {
        r.batch_id
        for r in spark.read.parquet(contrib).select("batch_id").distinct().collect()
    }
    assert bids == {-1, 3}

    # rebuild from the folded ledger reproduces the rollup exactly (the
    # rebuild is a pure function of the ledger; replaying the LATEST
    # batch exercises both convergence and the rebuild)
    upsert(batches[3], 3)
    assert rows_set(EV.read_cms_rollup(spark, path), cols) == before_rollup

    # refold: idempotent (old checkpoint folds into the new one)
    EV.compact_contrib_ledger(spark, contrib, {"cnt": "sum"})
    upsert(batches[3], 3)
    assert rows_set(EV.read_cms_rollup(spark, path), cols) == before_rollup

    # HLL ledger: register sketches fold via hll_union, estimates intact
    path2 = str(tmp_path / "hll_fold")
    captured2 = {}
    EV.run_foreach_batch = lambda stream, fn, mode="update": captured2.update(fn=fn)
    try:
        EV.run_incremental_distinct_rollup(spark, None, path2)
    finally:
        EV.run_foreach_batch = orig
    up2 = captured2["fn"]
    for i, b in enumerate(batches):
        up2(b, i)
    dcols = ("day", "event_type", "est_users")
    before2 = rows_set(EV.read_distinct_rollup(spark, path2), dcols)
    EV.compact_contrib_ledger(spark, path2 + "_contrib", {"sk": "hll_union"})
    up2(batches[3], 3)
    assert rows_set(EV.read_distinct_rollup(spark, path2), dcols) == before2


def test_ledger_epoch_guard_rejects_restarted_streams(spark, sf_dir, tmp_path):
    """Batch-id epochs: folding stamps a `_fold_hwm` inside the ledger, and
    both the fold and the rollup upsert refuse ids from a NEW epoch (a
    stream restarted with a fresh checkpoint dir restarts ids at 0, which
    would collide with already-folded cells and be silently committed by
    the next fold). Also pins the compact-crash window: a rollup whose
    contrib ledger is missing fails the next upsert loudly instead of
    rebuilding under-counted rollups from a near-empty ledger."""
    import shutil

    import distributed_graph_database_system_spark.streaming.events as EV

    e = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "cms_epoch")
    contrib = path + "_contrib"
    captured = {}
    orig = EV.run_foreach_batch
    EV.run_foreach_batch = lambda stream, fn, mode="update": captured.update(fn=fn)
    try:
        EV.run_incremental_cms_rollup(spark, None, path, depth=5, width=256)
    finally:
        EV.run_foreach_batch = orig
    upsert = captured["fn"]

    batches = [e.where(F.col("event_id") % 4 == i) for i in range(4)]
    for i, b in enumerate(batches):
        upsert(b, i)

    assert EV.read_fold_hwm(spark, contrib) is None  # never folded
    EV.compact_contrib_ledger(spark, contrib, {"cnt": "sum"})
    assert EV.read_fold_hwm(spark, contrib) == 3

    cols = ("day", "d", "bucket", "cnt", "w")
    rollup_before = rows_set(EV.read_cms_rollup(spark, path), cols)

    # replaying the hwm batch itself is the normal at-least-once path
    upsert(batches[3], 3)
    assert rows_set(EV.read_cms_rollup(spark, path), cols) == rollup_before
    # new-epoch live batch (fresh checkpoint restarts ids at 0): refused
    with pytest.raises(ValueError, match="fold high-water mark"):
        upsert(batches[0], 0)
    # folding a ledger whose live max id sits below the mark: refused too
    EV._write_fold_hwm(spark, contrib, 99)
    with pytest.raises(ValueError, match="NEW epoch"):
        EV.compact_contrib_ledger(spark, contrib, {"cnt": "sum"})
    EV._write_fold_hwm(spark, contrib, 3)  # restore

    # rollup values untouched by all the refusals
    upsert(batches[3], 3)
    assert rows_set(EV.read_cms_rollup(spark, path), cols) == rollup_before

    # compact-crash window: ledger gone (parked at __fold_bak), rollup
    # present — the next upsert must fail loudly, not rebuild from empty
    shutil.move(contrib, contrib + "__fold_bak")
    with pytest.raises(IOError, match="contrib .*ledger .*missing|ledger"):
        upsert(batches[3], 3)
    shutil.move(contrib + "__fold_bak", contrib)  # operator restores
    upsert(batches[3], 3)
    assert rows_set(EV.read_cms_rollup(spark, path), cols) == rollup_before


def test_incremental_kmv_rollup_converges_folds_and_intersects(
    spark, sf_dir, tmp_path
):
    """The KMV sketch store: (1) incremental per-day sketches converge to
    the one-shot batch sketch EXACTLY (bottom-k is a semilattice), so
    est_users matches the batch estimate bit-for-bit; (2) replaying the
    latest batch changes nothing; (3) kmv_union ledger folding preserves
    the rebuilt rollup row-for-row; (4) the stored sketches answer a
    cross-type intersection question via kmv_pair_overlap."""
    import distributed_graph_database_system_spark.streaming.events as EV
    from distributed_graph_database_system_spark.operators.sketch import (
        kmv_distinct_estimate,
        kmv_pair_overlap,
        kmv_sketch,
    )

    e = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "kmv_roll")
    contrib = path + "_contrib"
    k = 64
    captured = {}
    orig = EV.run_foreach_batch
    EV.run_foreach_batch = lambda stream, fn, mode="update": captured.update(fn=fn)
    try:
        EV.run_incremental_kmv_rollup(spark, None, path, k=k)
    finally:
        EV.run_foreach_batch = orig
    upsert = captured["fn"]

    batches = [e.where(F.col("event_id") % 3 == i) for i in range(3)]
    for i, b in enumerate(batches):
        upsert(b, i)

    rolled = EV.read_kmv_rollup(spark, path)
    # batch twin: sketch the whole fixture per (day, type) in one shot
    whole = kmv_sketch(
        e.select(F.to_date("ts").alias("day"), "event_type", "user_id"),
        "user_id",
        k=k,
        group_cols=("day", "event_type"),
    )
    want_est = {
        (str(r.day), r.event_type): r.est_distinct
        for r in kmv_distinct_estimate(
            whole, k=k, group_cols=("day", "event_type")
        ).collect()
    }
    got_est = {
        (str(r.day.date()), r.event_type): r.est_users
        for r in rolled.collect()
    }
    assert got_est == want_est
    got_sketch = {
        (str(r.day.date()), r.event_type): tuple(r.hs) for r in rolled.collect()
    }
    want_sketch = {}
    for r in whole.collect():
        want_sketch.setdefault((str(r.day), r.event_type), []).append(r.h)
    assert got_sketch == {kk: tuple(sorted(v)) for kk, v in want_sketch.items()}

    # replay latest batch → unchanged
    upsert(batches[2], 2)
    assert {
        (str(r.day.date()), r.event_type): r.est_users
        for r in EV.read_kmv_rollup(spark, path).collect()
    } == want_est

    # fold the ledger, rebuild via a replay: still identical
    stats = EV.compact_contrib_ledger(spark, contrib, {"hs": "kmv_union"})
    assert stats["partitions_after"] < stats["partitions_before"]
    upsert(batches[2], 2)
    assert {
        (str(r.day.date()), r.event_type): r.est_users
        for r in EV.read_kmv_rollup(spark, path).collect()
    } == want_est

    # a misconfigured k is refused BEFORE any write — the wrong-k batch
    # must leave no cells behind (they would brick every later correct-k
    # upsert), and the correct-k stream keeps working afterwards
    captured_bad = {}
    EV.run_foreach_batch = lambda stream, fn, mode="update": captured_bad.update(
        fn=fn
    )
    try:
        EV.run_incremental_kmv_rollup(spark, None, path, k=32)
    finally:
        EV.run_foreach_batch = orig
    with pytest.raises(ValueError, match="k is fixed per ledger"):
        captured_bad["fn"](batches[2], 3)
    kks = {r.kk for r in spark.read.parquet(contrib).select("kk").distinct().collect()}
    assert kks == {k}, "wrong-k upsert left cells behind"
    upsert(batches[2], 2)
    assert {
        (str(r.day.date()), r.event_type): r.est_users
        for r in EV.read_kmv_rollup(spark, path).collect()
    } == want_est

    # set algebra from the persisted store: one day's cross-type overlap
    # (re-read: `rolled` caches the pre-rewrite file listing)
    day0 = EV.read_kmv_rollup(spark, path).orderBy("day").first()["day"]
    day_sk = (
        EV.read_kmv_rollup(spark, path)
        .where(F.col("day") == day0)
        .select("event_type", F.explode("hs").alias("h"))
    )
    ov = kmv_pair_overlap(day_sk, "event_type", k=k)
    assert ov.count() > 0
    for r in ov.collect():
        assert 0.0 <= r.est_jaccard <= 1.0


def test_cdc_apply_converges_and_replays_idempotently(spark, tmp_path):
    """Change batches (upserts + deletes, op-tagged) applied through the
    partition-pruned MERGE sink: the target converges to the net state,
    and replaying any batch — including out of order — leaves the table
    unchanged (deterministic batches make MERGE semantically idempotent)."""
    from distributed_graph_database_system_spark.streaming.cdc import (
        cdc_apply_batch,
    )

    path = str(tmp_path / "cdc_target")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "k INT, g STRING, v DOUBLE",
    ).write.partitionBy("g").mode("overwrite").parquet(path)

    apply = cdc_apply_batch(spark, path, ["k"])
    schema = "k INT, g STRING, v DOUBLE, op STRING"
    b0 = spark.createDataFrame(
        [(1, "a", 11.0, "u"), (4, "b", 40.0, "u"), (2, None, 0.0, "d")], schema
    )
    b1 = spark.createDataFrame(
        [(4, "c", 44.0, "u"), (3, None, 0.0, "d")], schema  # 4 moves b → c
    )

    def state():
        return {
            r.k: (r.g, r.v) for r in spark.read.parquet(path).collect()
        }

    apply(b0, 0)
    apply(b1, 1)
    want = {1: ("a", 11.0), 4: ("c", 44.0)}
    assert state() == want
    apply(b1, 1)   # replay latest
    assert state() == want
    apply(b0, 0)   # out-of-order replay of an OLD batch: 2's delete and
    apply(b1, 1)   # 1's upsert are no-ops on the converged state; rerun
    assert state() == want  # of b1 restores 4's move and 3's delete

    # empty batch: no-op, target untouched
    apply(spark.createDataFrame([], schema), 2)
    assert state() == want


def test_cdc_apply_rejects_unknown_op_codes(spark, tmp_path):
    """A feed with op codes outside the u/d contract must fail loudly —
    silently filtering a Debezium-style 'c' would drop every insert."""
    from distributed_graph_database_system_spark.streaming.cdc import (
        cdc_apply_batch,
    )

    path = str(tmp_path / "cdc_ops")
    spark.createDataFrame(
        [(1, "a", 1.0)], "k INT, g STRING, v DOUBLE"
    ).write.partitionBy("g").mode("overwrite").parquet(path)
    apply = cdc_apply_batch(spark, path, ["k"])
    batch = spark.createDataFrame(
        [(2, "a", 2.0, "c")], "k INT, g STRING, v DOUBLE, op STRING"
    )
    with pytest.raises(ValueError, match="op="):
        apply(batch, 0)
    assert spark.read.parquet(path).count() == 1  # target untouched


def test_cdc_random_sequence_matches_reference_model(spark, tmp_path):
    """Chaos check: a seeded random sequence of change batches (upserts
    with partition moves + deletes over a small key space) applied
    through the MERGE sink must leave the target exactly equal to a
    plain Python dict replaying the same changes — and an immediate
    replay of every batch's final application order must change nothing."""
    import random

    from distributed_graph_database_system_spark.streaming.cdc import (
        cdc_apply_batch,
    )

    rng = random.Random(99)
    path = str(tmp_path / "cdc_chaos")
    init = [(k, rng.choice("abc"), float(k)) for k in range(30)]
    spark.createDataFrame(
        init, "k INT, g STRING, v DOUBLE"
    ).write.partitionBy("g").mode("overwrite").parquet(path)
    ref = {k: (g, v) for k, g, v in init}

    apply = cdc_apply_batch(spark, path, ["k"])
    schema = "k INT, g STRING, v DOUBLE, op STRING"
    last = None
    for bid in range(6):
        keys = rng.sample(range(40), 8)  # some keys never existed
        rows, seen = [], set()
        for k in keys:
            if k in seen:
                continue
            seen.add(k)
            if rng.random() < 0.3:
                rows.append((k, None, 0.0, "d"))
                ref.pop(k, None)
            else:
                g, v = rng.choice("abcd"), round(rng.uniform(0, 100), 2)
                rows.append((k, g, v, "u"))
                ref[k] = (g, v)
        batch = spark.createDataFrame(rows, schema)
        apply(batch, bid)
        last = batch

    def state():
        return {r.k: (r.g, r.v) for r in spark.read.parquet(path).collect()}

    assert state() == ref
    apply(last, 5)  # replay the final batch
    assert state() == ref


def test_stream_stream_left_outer_join_flushes_unmatched(
    spark, sf_dir, tmp_path
):
    """Watermarked stream-stream LEFT OUTER join: purchases with no
    same-user view in the preceding hour must eventually emit with NULL
    view columns — but ONLY once the watermark passes their window, so a
    drained replay withholds the trailing unmatched rows forever unless
    time advances. The test pins both semantics: a future-ts sentinel
    slice pushes the watermark past every real event, after which the
    emitted set equals the batch LEFT join exactly."""
    import distributed_graph_database_system_spark.streaming.events as EV

    src = EV.replay_dir(spark, sf_dir, str(tmp_path / "s"), slices=4)
    # sentinel slice: one future view + one future purchase advance BOTH
    # sides' watermarks (the outer flush gates on the join's combined
    # watermark, i.e. the min of the two inputs')
    maxts = load_table(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    sent = spark.createDataFrame(
        [
            (-1, maxts, -1, "view", 0.0, "{}"),
            (-2, maxts, -2, "purchase", 0.0, "{}"),
        ],
        EV.EVENTS_SCHEMA,
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 DAYS"))
    sent.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "_sent"))
    import glob as pyglob
    import shutil

    part = pyglob.glob(str(tmp_path / "_sent" / "part-*.parquet"))[0]
    shutil.move(part, f"{src}/slice-999.parquet")

    def sides(df):
        views = (
            df.where(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_uid"),
                F.col("ts").alias("v_ts"),
                F.col("event_id").alias("v_id"),
            )
        )
        purchases = (
            df.where(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_uid"),
                F.col("ts").alias("p_ts"),
                F.col("event_id").alias("p_id"),
            )
        )
        return views, purchases

    sviews, spurch = sides(EV.events_stream(spark, src))
    joined = (
        spurch.withWatermark("p_ts", "1 hour")
        .join(
            sviews.withWatermark("v_ts", "1 hour"),
            (F.col("p_uid") == F.col("v_uid"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("v_ts") < F.col("p_ts")),
            "leftOuter",
        )
        .select("p_id", "v_id")
    )
    run_to_memory(joined, "t_ssoj", mode="append")
    got = {
        (r.p_id, r.v_id)
        for r in spark.table("t_ssoj").collect()
        if r.p_id > 0
    }

    bviews, bpurch = sides(load_table(spark, sf_dir, "events"))
    want = {
        (r.p_id, r.v_id)
        for r in bpurch.join(
            bviews,
            (F.col("p_uid") == F.col("v_uid"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("v_ts") < F.col("p_ts")),
            "left",
        )
        .select("p_id", "v_id")
        .collect()
    }
    assert got == want
    assert any(v is None for _, v in want), "fixture lost its unmatched rows"


def test_incremental_rollup_available_now_stop_restart(
    spark, sf_dir, stream_src, tmp_path
):
    """End-to-end STOP/RESTART through Trigger.AvailableNow: run the
    day-rollup over the first half of the replay files, let the query
    TERMINATE (offsets committed to the checkpoint), land the second
    half, and re-invoke with the SAME checkpoint. The restart must
    resume after the committed offsets with continuing batch ids (the
    ledger epoch guard allows it) and the final rollup must equal the
    one-shot batch aggregate exactly — nothing dropped at the seam,
    nothing double-counted."""
    import glob
    import shutil

    from distributed_graph_database_system_spark.streaming.events import (
        read_rollup,
        run_foreach_batch_available_now,
        run_incremental_daily_rollup as _unused,  # noqa: F401
    )
    from distributed_graph_database_system_spark.streaming import events as ev_mod

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    rollup = str(tmp_path / "rollup")
    slices = sorted(glob.glob(stream_src + "/slice-*.parquet"))
    assert len(slices) >= 4
    half = len(slices) // 2

    # the rollup runner is foreachBatch logic; rebind its driver to the
    # AvailableNow + checkpoint shape by inlining the same upsert through
    # the module's public pieces: reuse run_incremental_daily_rollup's
    # batch_fn by extracting it via a tiny adapter stream run.
    def run_once():
        stream = ev_mod.events_stream(spark, src)
        # replicate run_incremental_daily_rollup but with the AvailableNow
        # driver: same upsert, durable checkpoint, terminating trigger.
        contrib_path = rollup.rstrip("/") + "_contrib"

        def upsert(batch_df, batch_id):
            ev_mod._guard_ledger_epoch(spark, contrib_path, rollup, batch_id)
            contrib_rows = (
                batch_df.groupBy(
                    F.to_date(F.col("ts")).alias("day"), F.col("event_type")
                )
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("value").cast("decimal(18,2)")).alias(
                        "dec_value"
                    ),
                )
                .collect()
            )
            if not contrib_rows:
                return
            days = sorted({r["day"] for r in contrib_rows})
            contrib = spark.createDataFrame(
                contrib_rows,
                "day DATE, event_type STRING, n BIGINT, dec_value DECIMAL(28,2)",
            )
            with ev_mod._dynamic_overwrite(spark):
                contrib.withColumn(
                    "batch_id", F.lit(int(batch_id))
                ).write.partitionBy("day", "batch_id").mode("overwrite").parquet(
                    contrib_path
                )
                merged = (
                    spark.read.parquet(contrib_path)
                    .where(F.col("day").isin(days))
                    .groupBy("day", "event_type")
                    .agg(
                        F.sum("n").alias("n"),
                        F.sum("dec_value").alias("dec_value"),
                    )
                )
                merged.write.partitionBy("day").mode("overwrite").parquet(rollup)

        run_foreach_batch_available_now(stream, upsert, ckpt, mode="append")

    import os

    os.makedirs(src, exist_ok=True)
    for s in slices[:half]:
        shutil.copy(s, src)
    run_once()  # drains the first half, then terminates

    cols = ("day", "event_type", "n", "sum_value")
    e = load_table(spark, sf_dir, "events")

    def want_for(ev_df):
        return rows_set(
            ev_df.groupBy(
                F.to_date("ts").cast("timestamp").alias("day"), "event_type"
            ).agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_value"),
            ),
            cols,
        )

    first_half = spark.read.parquet(*[src + "/" + s.split("/")[-1] for s in slices[:half]])
    assert rows_set(read_rollup(spark, rollup), cols) == want_for(first_half)
    first_run_ids = {
        int(d.rsplit("batch_id=", 1)[1])
        for d in glob.glob(rollup + "_contrib/day=*/batch_id=*")
    }

    for s in slices[half:]:
        shutil.copy(s, src)
    run_once()  # restart from the same checkpoint: only the new files

    assert rows_set(read_rollup(spark, rollup), cols) == want_for(e)

    # continuing batch ids: the restart's ids must strictly exceed the
    # first run's max — no id reset (epoch guard stayed silent). Asserted
    # against the RECORDED first-run max, not a files-per-batch ratio
    # (AvailableNow may batch several replay files into one micro-batch).
    batch_dirs = glob.glob(rollup + "_contrib/day=*/batch_id=*")
    ids = {int(d.rsplit("batch_id=", 1)[1]) for d in batch_dirs}
    assert max(ids) > max(first_run_ids)  # ids continued past run 1


def test_transform_with_state_counts_match_batch(spark, sf_dir, stream_src):
    """Spark 4 transformWithStateInPandas (StatefulProcessor + named
    ValueState, RocksDB state store): the running per-user counter's
    final emitted state must equal the batch groupBy count — the same
    convergence contract as the applyInPandasWithState twin. The state
    API client speaks protobuf to the JVM state server, so the test
    skips where the protobuf package isn't installed (this container);
    the operator itself is cluster-ready."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState's state API client requires protobuf",
    )
    from distributed_graph_database_system_spark.streaming.events import (
        stateful_user_counts_tws,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        run_to_memory(
            stateful_user_counts_tws(events_stream(spark, stream_src)),
            "t_tws",
            mode="update",
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    final = {
        r.user_id: r.n_events
        for r in spark.table("t_tws")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    want = {
        r.user_id: r["count"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .count()
        .collect()
    }
    assert final == want


def test_streaming_media_decode_matches_batch(spark, sf_dir, tmp_path):
    """decode_media (Arrow mapInPandas) runs unchanged inside Structured
    Streaming: a file-stream of media blobs deep-decodes per micro-batch
    and the accumulated sink equals the one-shot batch decode — the
    streaming-ingest shape of a media curation pipeline (new crawl
    shards decode as they land)."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        decode_media,
        documents_as_synth_media,
    )

    media = documents_as_synth_media(
        load_table(spark, sf_dir, "documents").limit(36)
    )
    src = str(tmp_path / "media_src")
    # two landing shards → two micro-batches (maxFilesPerTrigger=1)
    media.where(F.col("media_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    media.where(F.col("media_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(media.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        decode_media(stream, deep=True)
        .select("media_id", "fmt", "px_sum", "n_px", "n_samples")
        .writeStream.format("memory")
        .queryName("t_media_decode")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.media_id: (r.fmt, r.px_sum, r.n_px, r.n_samples)
        for r in spark.table("t_media_decode").collect()
    }
    want = {
        r.media_id: (r.fmt, r.px_sum, r.n_px, r.n_samples)
        for r in decode_media(media, deep=True)
        .select("media_id", "fmt", "px_sum", "n_px", "n_samples")
        .collect()
    }
    assert got == want and len(got) == 36
