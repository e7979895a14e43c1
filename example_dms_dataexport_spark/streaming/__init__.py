"""Structured Streaming surfaces of the engine.

cdc_stream   file-source CDC stream -> foreachBatch(apply_changes);
             the checkpoint replaces the reference's per-table
             last_incremental_file bookkeeping entirely (SURVEY §2.9)
windows      watermarked tumbling-window aggregation over an event stream
             (same expression as the batch q16 query)
sessions     gap-based sessionization: session_window batch twin (q34) +
             applyInPandasWithState stateful stream with event-time
             timeout eviction
dedup_stream watermark-bounded streaming exact dedup
             (dropDuplicatesWithinWatermark on the content fingerprint)
rollup_stream incremental materialized-view maintenance fed by a stream
sketch_stream continuous sketch-state maintenance (HLL distinct counts,
             count-min frequencies, histogram and KLL quantiles) via the
             same exactly-once guarded fold
joins        watermarked stream-stream interval join (click attribution)
             with time-bounded state eviction
replay       the (checkpoint lineage, batch_id) replay guard the
             exactly-once foreachBatch sinks share
"""
