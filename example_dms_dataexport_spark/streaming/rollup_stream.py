"""Continuous materialized-view maintenance: a change-row stream folded
into a stored rollup via ``operators.incremental.update_rollup``.

Batch q49 proves the fold equals a full recompute; this driver runs the
same fold per micro-batch, so the stored aggregate tracks the fact
table's CDC feed with per-batch cost O(|batch| + |rollup|) and the fact
table is never scanned.  One code path for the fold semantics, two
drivers — the same structure as cdc_stream vs the batch merge.

Exactly-once: foreachBatch alone is at-least-once — if the driver dies
AFTER the warehouse overwrite succeeds but BEFORE the checkpoint records
the batch, the source replays it and a naive fold would re-apply the same
deltas to the POST-batch rollup, double-counting them.  The sink
therefore records the last-applied batch_id IN the same atomic overwrite
(``warehouse.overwrite(..., meta=...)`` writes the sidecar into the temp
dir before the swap), and the guarded fold skips any batch_id it has
already applied — the standard idempotent-foreachBatch recipe, shared
with ``sketch_stream`` via ``guarded_fold``.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.incremental import update_rollup
from ..sources.warehouse import ParquetWarehouse
from .replay import replayed


def guarded_fold(
    warehouse: ParquetWarehouse,
    table: str,
    checkpoint_dir: str,
    fold: Callable[[DataFrame], DataFrame],
) -> Callable[[DataFrame, int], None]:
    """Wrap a per-batch ``fold(batch) -> new_table_state`` into an
    idempotent foreachBatch callback: the last-applied batch_id commits
    atomically WITH the state (overwrite meta sidecar), and a
    crash-replayed batch of the same checkpoint lineage is skipped.

    Lineage identity is the checkpoint PATH — normalized with realpath
    so the same lineage restarted with a differently spelled path
    (trailing slash, relative vs absolute) still matches the stored
    guard. Batch ids are monotonic only WITHIN one lineage: a fresh
    checkpoint restarts ids at 0 and its batch 0 may contain genuinely
    new files, so the guard never fires across lineages. (Resetting the
    checkpoint without resetting the state table therefore re-applies
    everything — at-least-once across lineages; reseed the table when
    you reset the checkpoint. tests/test_streaming.py pins both
    directions.)
    """
    lineage = os.path.realpath(checkpoint_dir)

    def fold_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if replayed(warehouse.read_meta(table), lineage, batch_id,
                    "checkpoint", "last_batch_id"):
            # crash-replay of a batch whose overwrite already committed —
            # folding it again would double-apply its deltas
            return
        merged = fold(batch)
        # materialize BEFORE the overwrite: the fold reads the table it
        # replaces, and a failed/retried batch must re-read the old state
        merged.persist()
        merged.count()
        warehouse.overwrite(
            merged,
            table,
            meta={"checkpoint": lineage, "last_batch_id": batch_id},
        )
        merged.unpersist()

    return fold_batch


def start_rollup_stream(
    spark: SparkSession,
    changes: DataFrame,
    warehouse: ParquetWarehouse,
    rollup_table: str,
    keys: Sequence[str],
    measures: Sequence[str],
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Fold a STREAMING DataFrame of I/U/D change rows (op + before_*/
    after_* images, see operators.incremental) into ``rollup_table``,
    which must already exist (seed it with ``incremental.rollup``)."""

    def fold(batch: DataFrame) -> DataFrame:
        current = warehouse.read(spark, rollup_table)
        return update_rollup(current, batch, keys, measures)

    writer = (
        changes.writeStream.foreachBatch(
            guarded_fold(warehouse, rollup_table, checkpoint_dir, fold)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
