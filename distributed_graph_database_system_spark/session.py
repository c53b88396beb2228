"""SparkSession factory tuned for this engine.

Local-mode defaults match the test container (local[N], single JVM), but every
knob is chosen so the same logical plans scale to a multi-executor cluster:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — at 100 TB the static plan is always wrong
  somewhere; AQE fixes it from shuffle statistics.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE's coalescing makes the initial number mostly irrelevant.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (parquet timestamps are naive; both engines must agree on wall time).
- Arrow enabled for every pandas interchange path (Pandas UDFs,
  ``applyInPandas``/``mapInPandas`` — the only Python-side hot paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "distributed_graph_database_system_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Start every exchange wide and let AQE coalesce DOWN from shuffle
        # statistics instead of hand-tuning partitions per scale factor: at
        # sf100 (600M-row lineitem) 32 reducers left 19M rows/partition and
        # the join-heavy shapes spill-bound (BASELINE.md sf100 table; 256
        # partitions recovered 10-23%), while at fixture scale AQE coalesces
        # the same 256 initial partitions back to a handful — so the wide
        # default costs nothing small and removes the manual knob large.
        # On a real cluster this would be sized to ~2-3x total cores.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(256, n)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Scan-split open cost (default 4 MB, a spinning-disk-era guard
        # against over-splitting small files). Spark floors maxSplitBytes
        # at this value, so a ~10 MB compact parquet file never splits
        # into more than ~3 tasks no matter how many row groups or cores
        # exist — at fixture scale every scan stage was 1-3 tasks on 32
        # cores (r14 VERDICT: the scaling leg was blind). 128 KB lets
        # (file_bytes / defaultParallelism)-sized splits win instead:
        # scans parallelize to the core count whenever the file has
        # enough row groups, measured -30% on the interleaved headline
        # A/B (scripts/ab_fixture_probe.py). Scale-adaptive, not a local
        # constant: the divisor is defaultParallelism, and at real scale
        # (multi-GB inputs) maxPartitionBytes governs instead, where the
        # only effect of a smaller open cost is packing many tiny files
        # tighter — fewer, fuller tasks.
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        # Runtime bloom-filter join pruning is ON by default in Spark 4 (the
        # shuffle-join analogue of dynamic partition pruning): a selective
        # filter on one join side injects a bloom filter of its keys into
        # the other side's scan. The default size thresholds (10 MB creation
        # side cap / 10 GB application-side floor) decide when it pays —
        # correctly off at fixture scale, on at the 100 TB target;
        # tests/test_plans.py::test_runtime_bloom_filter_fires... proves the
        # engine's join shapes are eligible by widening the creation-side
        # cap and zeroing the application-side floor.
        # events.parquet stores TIMESTAMP(NANOS), which Spark cannot represent
        # natively (micros only). Read as long and convert in the loader —
        # fixture timestamps are exact microseconds, so no precision is lost.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
