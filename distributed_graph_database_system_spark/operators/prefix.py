"""Distributed prefix (cumulative) aggregation without a single-partition
window.

A global ``SUM() OVER (ORDER BY ...)`` plans as ONE window partition —
every row through one task, the classic 100 TB bottleneck (Spark even
warns ``WindowExec: No Partition Defined``). The standard fix is the
two-pass prefix sum:

1. range-repartition on the order key, so partition i holds a contiguous
   key range and partitions are globally ordered;
2. pass 1: per-partition running sum (a window PARTITIONED by the
   physical partition id — parallel, no cross-partition data movement)
   plus one per-partition total;
3. the per-partition totals (numPartitions rows) become broadcast prefix
   OFFSETS via a tiny driver-side scan;
4. pass 2: global cum = local running sum + own partition's offset.

Exactness contract: the summed column should be DECIMAL (or integer) so
addition is associative — then the result is INDEPENDENT of where the
range partitioner happens to place its boundaries (they are sample-based
and not stable across runs). With doubles the two-pass result can differ
from the one-pass result in final ulps; callers needing cross-engine hash
stability must sum decimals (see queries/analysis.py orders_abc_pareto).
Partition-placement invariance is asserted in tests/test_prefix.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def partitioned_prefix_sums(
    df: DataFrame,
    order_cols: list[str | Column],
    value_cols: list[str | Column],
    out_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_cols[i]`` = running sum of ``value_cols[i]`` over the
    GLOBAL order of ``order_cols`` (which must be a total order — include
    a unique tie-break key) without ever forming a single window
    partition. All sums share ONE range repartition / one offsets
    broadcast — the multi-measure form (e.g. the KS test's two ECDFs).

    NULL handling: each value column is coalesced to 0 internally, so a
    NULL value contributes nothing to the running sum — the same as SUM
    OVER's null-skipping, except that rows BEFORE the first non-null get
    0 instead of NULL. (Every registered caller passes aggregate counts /
    decimal sums, non-null by construction, so the distinction never
    surfaces; the coalesce exists so a stray NULL can't silently poison
    every later partition's offset with NULL arithmetic.) The neutral
    zero is CAST to each value column's own dtype before the coalesce:
    an untyped integer 0 would make Spark widen narrow decimals (e.g.
    decimal(8,2) → decimal(12,2)) through the coalesce and hence the SUM,
    silently changing the output schema for decimal callers even though
    values are identical (r13 ADVICE item)."""
    if len(value_cols) != len(out_cols):
        raise ValueError(
            f"value_cols ({len(value_cols)}) and out_cols "
            f"({len(out_cols)}) must pair up 1:1"
        )
    value_exprs = [F.col(v) if isinstance(v, str) else v for v in value_cols]
    # One driver-side analysis pass resolves each expression's dtype so the
    # zero literal can be typed exactly (works for named columns AND
    # arbitrary Column expressions), and the type a one-pass SUM OVER of
    # that expression would produce — the two-pass result is cast back to
    # THAT type, because the local-cum + offset addition (both already
    # SUM-widened) would otherwise widen decimals a second time
    # (decimal(18,2) sums → decimal(30,2) output).
    value_types = [
        f.dataType for f in df.select(*value_exprs).schema.fields
    ]
    sum_types = [
        f.dataType
        for f in df.agg(*[F.sum(v) for v in value_exprs]).schema.fields
    ]
    values = [
        F.coalesce(v, F.lit(0).cast(t))
        for v, t in zip(value_exprs, value_types)
    ]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    local_w = W.partitionBy("_pid").orderBy(*order_cols).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    # local feeds BOTH the result rows and the offsets table. Pin it:
    # range-partitioner boundaries are sample-based, so two independent
    # computations of the same subtree could place rows differently,
    # pairing rows with offsets from a DIFFERENT partitioning. (AQE's
    # ReusedExchange usually dedups the subtree, but that's an optimizer
    # courtesy, not a guarantee.)
    local = ranged
    for i, v in enumerate(values):
        local = local.withColumn(f"_local_cum_{i}", F.sum(v).over(local_w))
    local = local.localCheckpoint()
    # one row per partition → the offsets table is numPartitions rows;
    # the running offset is computed over THAT tiny table (its window is
    # single-partition, over ~n rows — the whole point of the rewrite)
    totals = local.groupBy("_pid").agg(
        *[F.sum(v).alias(f"_ptotal_{i}") for i, v in enumerate(values)]
    )
    off_w = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, W.currentRow)
    offsets = totals.select(
        "_pid",
        *[
            (F.sum(f"_ptotal_{i}").over(off_w) - F.col(f"_ptotal_{i}")).alias(
                f"_offset_{i}"
            )
            for i in range(len(values))
        ],
    )
    out = local.join(F.broadcast(offsets), "_pid")
    for i, name in enumerate(out_cols):
        out = out.withColumn(
            name,
            (F.col(f"_local_cum_{i}") + F.col(f"_offset_{i}")).cast(
                sum_types[i]
            ),
        )
    drop = ["_pid"] + [f"_local_cum_{i}" for i in range(len(values))] + [
        f"_offset_{i}" for i in range(len(values))
    ]
    return out.drop(*drop)


def partitioned_prefix_sum(
    df: DataFrame,
    order_cols: list[str | Column],
    value_col: str | Column,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Single-measure convenience wrapper over
    :func:`partitioned_prefix_sums`."""
    return partitioned_prefix_sums(
        df, order_cols, [value_col], [out_col], num_partitions
    )
