"""Continuous right-to-be-forgotten: a stream of erasure requests
(subject keys) executed against a warehouse table per micro-batch via
``warehouse.erase_subjects`` — the production shape of the GDPR queue:
requests trickle in, each batch's subjects are deleted from the target
with partition-scoped rewrites, and the compliance audit (q119/q123) can
run at any point.

Exactly-once note: erasure needs no batch-id guard for CORRECTNESS —
deleting an already-deleted subject is a natural no-op, so an
at-least-once replay after a crash converges to the identical state
(the same argument as cdc_stream's idempotent merge). What a replay
would repeat is the rewrite I/O of the touched partitions, so the
stream records the last committed (checkpoint lineage, batch_id) in
the table's meta sidecar — the CDC loader's ``last_merged_file``
zero-I/O re-delivery early-exit (r19/r20, guide §6) — and a
re-delivered window skips the erase with ONE JSON read, no data-file
opens. The marker is written strictly AFTER the erase commits
(``update_meta``'s documented ordering), so it can lag the data but
never lead it: the crash window between commit and marker replays one
idempotent erase, exactly the pre-guard behavior.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..sources.warehouse import ParquetWarehouse
from .replay import replayed


def start_erasure_stream(
    spark: SparkSession,
    requests: DataFrame,
    warehouse: ParquetWarehouse,
    table: str,
    key_col: str,
    checkpoint_dir: str,
    subject_col: str | None = None,
    partition_by: list[str] | None = None,
    available_now: bool = True,
    mode: str = "rewrite",
) -> StreamingQuery:
    """Erase each micro-batch's subjects (column ``subject_col``,
    default ``key_col``) from ``table``. ``partition_by`` routes the
    delete through the partition-scoped rewrite exactly like a direct
    ``erase_subjects`` call.

    ``mode="defer"`` records each batch through the merge-on-read
    ``delete_keys`` sidecar instead: per-batch cost drops from a
    partition/file rewrite to O(|batch keys|) with ZERO data-file I/O —
    the right shape when requests trickle in faster than rewrites
    amortize — and the subjects stop being readable the instant the
    batch commits. One scheduled ``materialize_deletes`` (or
    ``recluster``) then applies the accumulated set in a single pruned
    rewrite. Same replay argument as the rewrite mode: delete_keys is a
    set union, so an at-least-once replay converges identically. Note
    the physical bytes persist until that materialize runs — a
    hard-deadline compliance clock bounds the materialize schedule, not
    the stream."""
    if mode not in ("rewrite", "defer"):
        raise ValueError(f"mode must be 'rewrite' or 'defer', got {mode!r}")
    if mode == "defer" and partition_by is not None:
        raise ValueError(
            "partition_by has no effect in mode='defer' (delete_keys is "
            "layout-agnostic); pass it to the scheduled "
            "materialize_deletes instead"
        )
    subj = subject_col or key_col
    lineage = os.path.realpath(checkpoint_dir)

    def erase_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if replayed(warehouse.read_meta(table), lineage, batch_id,
                    "erasure_checkpoint", "last_erasure_batch"):
            # re-delivered window (crash between the erase commit and
            # the streaming checkpoint advance): the subjects are
            # already gone — skip with zero data-file I/O
            return
        if mode == "defer":
            warehouse.delete_keys(spark, table, key_col, batch.select(subj))
        else:
            warehouse.erase_subjects(
                spark,
                table,
                key_col,
                batch.select(subj),
                partition_by=partition_by,
            )
        # strictly AFTER the commit: the marker may lag the data (one
        # idempotent re-erase on replay) but never lead it
        warehouse.update_meta(
            table,
            {"erasure_checkpoint": lineage, "last_erasure_batch": batch_id},
        )

    writer = (
        requests.writeStream.foreachBatch(erase_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
