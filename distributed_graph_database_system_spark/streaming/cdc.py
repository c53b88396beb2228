"""Streaming CDC apply: a change stream upserted into a hive-partitioned
parquet target through the partition-pruned MERGE (sources/layout.py
merge_into) — the foreachBatch sink that turns an op-tagged change feed
into a maintained table.

Replay safety WITHOUT a ledger: foreachBatch is at-least-once, but a
deterministic batch replayed through MERGE is semantically idempotent —
upserting identical rows overwrites the same keys with the same values,
and re-deleting an absent key is a no-op — so the target converges to
the same state however many times a batch fires (asserted in
tests/test_streaming.py). That is a weaker guarantee than the rollup
ledgers' exactly-once-by-construction (MERGE is idempotent only because
its effect is a pure function of (target, batch) — a batch computing
values from the CURRENT target state, e.g. counters, would double-apply;
use the contribution-ledger rollups for those).

Op semantics: the change frame carries an ``op`` column — ``'u'`` rows
upsert (full target schema), ``'d'`` rows delete by key (non-key columns
ignored). Deletes win over same-key upserts within a batch, merge_into's
CDC terminal-op rule.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from distributed_graph_database_system_spark.sources.layout import merge_into


def cdc_apply_batch(
    spark: SparkSession,
    target_path: str,
    key_cols: Sequence[str],
    op_col: str = "op",
):
    """The per-batch apply as a standalone ``(batch_df, batch_id)``
    callable (foreachBatch signature) — testable without a running
    stream, exactly like near_dedup_batch_fn."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        if batch_df.isEmpty():
            return
        # fail LOUDLY on op codes outside the contract — a Debezium-style
        # feed ('c'/'r'/uppercase) silently filtered away would drop every
        # insert with no error, the worst kind of CDC loss
        bad = batch_df.where(~F.col(op_col).isin("u", "d")).take(1)
        if bad:
            raise ValueError(
                f"cdc_apply: batch {batch_id} carries op="
                f"{bad[0][op_col]!r}; the contract is 'u' (upsert) / "
                "'d' (delete) — map your feed's op codes first"
            )
        ups = batch_df.where(f"{op_col} = 'u'").drop(op_col)
        dels = batch_df.where(f"{op_col} = 'd'").select(*key_cols)
        has_dels = bool(dels.take(1))  # one action, reused
        merge_into(
            spark,
            target_path,
            ups,
            key_cols,
            deletes=dels if has_dels else None,
        )

    return apply
