"""Streaming CDC: Structured Streaming file source + foreachBatch MERGE.

The reference implements, by hand, exactly what Structured Streaming's
file source + checkpoint provide natively (SURVEY §2.9):

| reference                                  | streaming-native            |
|--------------------------------------------|-----------------------------|
| last_incremental_file watermark (:36,:359) | file-source checkpoint      |
| advance-after-merge transaction (:412-416) | checkpoint commit per batch |
| SCHEDULE on root task (:496)               | Trigger.AvailableNow / processingTime |
| latest-wins dedup + MERGE (:369-409)       | same operators, per micro-batch |

Each micro-batch applies the same ``merge.apply_changes`` used by the
batch path — one code path for the MERGE semantics, two drivers.

Exactly-once notes: the file source tracks processed files in the
checkpoint (no reprocessing across restarts); the sink is an idempotent
atomic overwrite, so a batch replayed after a crash converges to the same
table state. Latest-wins ordering *within* a batch uses the same
(filename desc, rownum desc) total order as batch mode; ordering *across*
batches is guaranteed because the file source lists files in order and a
later batch's merge wins by construction (it runs after).

Scale: maxFilesPerTrigger bounds batch size so executor memory is stable
regardless of backlog depth; the merge cost per batch is join-on-PK of
(batch ∪ target), same as batch mode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from ..cdc import merge_and_write
from ..sources.csv_stage import cdc_schema
from ..sources.stage import stage_extension
from ..sources.warehouse import ParquetWarehouse
from .replay import replayed


def read_cdc_stream(
    spark: SparkSession,
    landing_glob: str,
    target_schema: StructType,
    max_files_per_trigger: int = 100,
    file_format: str = "csv",
) -> DataFrame:
    """Streaming read of CDC stage files (op + target columns,
    positional), dispatched on the table's metadata ``file_format``
    exactly like the batch path (``sources.stage.read_stage``).

    ``landing_glob`` should end in ``2*.<ext>`` so full-load files are
    never picked up (ref :301 file-name convention).

    CSV emits ``_dms_filename`` only — intra-file order is
    reconstructed per micro-batch by the caller's rownum window.
    Parquet also emits ``_dms_rownum`` natively from
    ``_metadata.row_index`` (split-stable, no window, same as the batch
    reader). ORC and XML emit ``_dms_filename`` plus
    ``_dms_blockstart`` (the split's byte offset): the caller's rownum
    window orders by (blockstart, mono-id), which reconstructs
    intra-file order under any file splitting — same contract as the
    batch ``orc_stage``/``xml_stage`` readers. Avro follows the ORC
    contract on the native spark-avro scan (blockstart), and the
    parquet one (exact ``_dms_rownum``) on the stdlib OCF fallback,
    whose binaryFile stream decodes whole files per row. The positional contract
    (parquet/ORC) needs the files' physical column names; they are
    discovered once at stream setup from the current landing contents
    (a driver-side schema read, not a data scan) — when the landing dir
    is still empty the CDC schema's own names are assumed, which DMS
    exports match. XML is NAMED (schema-driven, case-insensitive), so
    no discovery is needed.

    NB the positional order here is ``target_schema``'s field order as
    PASSED — the stream has no metadata store. For a hive-partitioned
    target, Spark reads the schema back partition-columns-last; pass the
    SOURCE column order (``TableMeta.column_order``, recorded by
    full_load) rather than the raw partitioned read schema, exactly as
    the batch loader does."""
    fmt = stage_extension(file_format)
    want = cdc_schema(target_schema)
    if fmt in ("parquet", "orc"):
        try:
            physical = (
                spark.read.parquet(landing_glob).schema
                if fmt == "parquet"
                else spark.read.orc(landing_glob).schema
            )
        except Exception:  # no files landed yet — assume contract names
            physical = want
        if len(physical) != len(want.fields):
            raise ValueError(
                f"stage {fmt} has {len(physical)} columns, CDC schema "
                f"needs {len(want.fields)} (positional contract)"
            )
        raw = (
            spark.readStream.schema(physical)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .format(fmt)
            .load(landing_glob)
        )
        names = physical.fieldNames()
        cols = [
            F.col(names[i]).cast(f.dataType).alias(f.name)
            for i, f in enumerate(want.fields)
        ]
        if fmt == "parquet":
            return raw.select(
                *cols,
                F.col("_metadata.file_path").alias("_dms_filename"),
                (F.col("_metadata.row_index") + 1).alias("_dms_rownum"),
            )
        return raw.select(  # orc: no row_index — split offset instead
            *cols,
            F.col("_metadata.file_path").alias("_dms_filename"),
            F.col("_metadata.file_block_start").alias("_dms_blockstart"),
        )
    if fmt == "avro":
        from ..sources.avro_stage import (
            avro_available,
            decode_binaryfile_frame,
        )

        if avro_available(spark):
            # native scan: positional contract with physical-name
            # discovery, split offset for intra-file order (avro has no
            # row_index) — same contract as the ORC branch
            try:
                physical = spark.read.format("avro").load(landing_glob).schema
            except Exception:  # no files landed yet — assume contract names
                physical = want
            if len(physical) != len(want.fields):
                raise ValueError(
                    f"stage avro has {len(physical)} columns, CDC schema "
                    f"needs {len(want.fields)} (positional contract)"
                )
            raw = (
                spark.readStream.schema(physical)
                .option("maxFilesPerTrigger", str(max_files_per_trigger))
                .format("avro")
                .load(landing_glob)
            )
            names = physical.fieldNames()
            return raw.select(
                *[
                    F.col(names[i]).cast(f.dataType).alias(f.name)
                    for i, f in enumerate(want.fields)
                ],
                F.col("_metadata.file_path").alias("_dms_filename"),
                F.col("_metadata.file_block_start").alias("_dms_blockstart"),
            )
        # stdlib OCF fallback: a binaryFile STREAM (whole files per row)
        # through the same distributed decode kernel as the batch stage
        # reader — exact per-file rownums, so no ordering window is
        # needed downstream (the parquet contract, not the ORC one)
        raw = (
            spark.readStream.schema(
                # binaryFile's FIXED schema — streaming sources refuse
                # to infer, even for a source whose schema never varies
                "path string, modificationTime timestamp, "
                "length long, content binary"
            )
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .format("binaryFile")
            .load(landing_glob)
        )
        return decode_binaryfile_frame(raw, want)
    if fmt == "xml":
        return (
            spark.readStream.schema(want)
            .option("rowTag", "row")
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .format("xml")
            .load(landing_glob)
            .select(
                "*",
                F.col("_metadata.file_path").alias("_dms_filename"),
                F.col("_metadata.file_block_start").alias("_dms_blockstart"),
            )
        )
    return (
        spark.readStream.schema(want)
        .option("header", "false")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .csv(landing_glob)
        .select("*", F.col("_metadata.file_path").alias("_dms_filename"))
    )


def _null_pk_tripwire(batch: DataFrame, pks: list[str], batch_id) -> None:
    """Name-resolution tripwire: parquet/ORC resolve columns BY NAME
    against the stream's fixed schema, so if the stream started on an
    EMPTY landing dir (physical names assumed = contract names) and
    real files carry foreign source names, every column — including the
    PKs — reads back NULL. That must abort the stream, not upsert a
    NULL-pk garbage row. One batch-sized agg."""
    stats = batch.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.count(p).alias(f"__nn_{p}") for p in pks],
    ).first()
    if stats["__n"] > 0 and all(stats[f"__nn_{p}"] == 0 for p in pks):
        raise ValueError(
            f"CDC batch {batch_id} has {stats['__n']} rows but every "
            f"primary key {pks} is NULL — the stage files' physical "
            "column names almost certainly do not match the schema "
            "assumed at stream start (empty-landing fallback). "
            "Restart the stream after the first file has landed."
        )


def _with_rownum(batch: DataFrame) -> DataFrame:
    """Reconstruct the per-file row number for latest-wins ordering,
    per source contract (see ``read_cdc_stream``)."""
    if "_dms_rownum" in batch.columns:
        return batch  # parquet: row_index attached at the source
    if "_dms_blockstart" in batch.columns:
        # orc/xml: order splits by byte offset, rows within a split
        # by mono-id — correct under file splitting (see orc_stage)
        w = Window.partitionBy("_dms_filename").orderBy(
            "_dms_blockstart", F.monotonically_increasing_id()
        )
        return batch.withColumn("_dms_rownum", F.row_number().over(w)).drop(
            "_dms_blockstart"
        )
    w = Window.partitionBy("_dms_filename").orderBy(
        F.monotonically_increasing_id()
    )
    return batch.withColumn("_dms_rownum", F.row_number().over(w))


def start_cdc_stream(
    spark: SparkSession,
    landing_glob: str,
    warehouse: ParquetWarehouse,
    target_table: str,
    pks: list[str],
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 100,
    partition_by: list[str] | None = None,
    file_format: str = "csv",
    column_order: list[str] | None = None,
    maintenance=None,
    maintenance_every: int = 20,
) -> StreamingQuery:
    """Continuously (or catch-up once, with available_now) merge CDC files
    into ``target_table``. The target must already exist (full load).

    ``maintenance``: a :class:`~..maintenance.MaintenancePolicy` — a
    CONTINUOUS stream accretes small files and layout drift with every
    micro-batch but never passes through ``run_queue``'s post-cycle
    hook, so every ``maintenance_every``-th batch runs one bounded
    advisor pass on the target after its merge (aged deferred deletes
    materialize, dropped zone maps rebuild, drift reclusters, debt
    compacts). The pass keys off ``batch_id`` (stable across restarts),
    so a replayed trigger batch re-runs it — materialize/rebuild are
    natural no-ops then and recluster/compact cost one bounded extra
    rewrite; a maintenance failure never fails the batch.

    ``column_order``: the SOURCE column order for the positional CDC
    contract (``TableMeta.column_order``, recorded by full_load). Needed
    when the target is hive-partitioned on a non-last column — Spark
    reads its schema back partition-columns-last, which would garble the
    positional cast, exactly as in the batch loader.

    ``partition_by`` makes every micro-batch's merge partition-scoped
    (cdc.merge_and_write): at 100 TB a continuous stream CANNOT full-
    rewrite the target per batch, so the same pruned-merge +
    replace_partitions path the batch loader uses is the only shape that
    survives — per-batch cost proportional to the batch's touched
    partitions, untouched partition files never read or written.
    """
    target_schema = warehouse.read(spark, target_table).schema
    if column_order:
        from ..metadata import source_ordered

        target_schema = StructType(
            [
                target_schema[c]
                for c in source_ordered(
                    target_schema.fieldNames(), column_order
                )
            ]
        )

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns:
            return
        _null_pk_tripwire(batch, pks, batch_id)
        changes = _with_rownum(batch)
        target = warehouse.read(spark, target_table)
        # foreachBatch may retry a batch on failure; the atomic overwrite
        # (or tombstoned partition replace) makes the retry idempotent.
        merge_and_write(
            warehouse,
            target_table,
            target,
            changes,
            pks=pks,
            version_cols=["_dms_filename", "_dms_rownum"],
            partition_by=partition_by,
        )
        if maintenance is not None and batch_id % maintenance_every == 0:
            from ..maintenance import run_maintenance

            run_maintenance(
                spark,
                warehouse,
                [target_table],
                policy=maintenance,
                layouts={target_table: {"partition_by": partition_by}},
            )

    stream = read_cdc_stream(
        spark,
        landing_glob,
        target_schema,
        max_files_per_trigger,
        file_format=file_format,
    )
    writer = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_cdc_group_stream(
    spark: SparkSession,
    members: dict[str, dict],
    warehouse: ParquetWarehouse,
    group: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 100,
    retain: int = 2,
    maintenance=None,
    maintenance_every: int = 20,
) -> StreamingQuery:
    """Co-stream CDC for SEVERAL tables with whole-epoch group commits —
    the streaming analogue of ``run_queue(group=...)``'s whole-cycle
    snapshots (the cross-table guarantee the reference's task DAG cannot
    give, ref :163-203: each table's MERGE commits independently, so a
    mid-cycle reader joins one table's new state against another's old).

    ``members`` maps table name -> spec dict with keys ``landing_glob``
    and ``pks`` (required) plus optional ``partition_by``,
    ``file_format`` (default csv) and ``column_order`` — the same
    parameters ``start_cdc_stream`` takes per table.

    How one epoch spans tables: each member's landing dir is read with
    the format-dispatched ``read_cdc_stream``, NORMALIZED to a common
    envelope (table, to_json(payload), filename, rownum, blockstart)
    and unioned into ONE stream, so Structured Streaming's checkpoint
    assigns files of ALL members to the SAME micro-batch epoch. The
    foreachBatch driver parses each member's slice back through its CDC
    schema (``from_json`` — an exact round-trip, both sides of which
    are Spark's own JSON codec), runs the shared ``merge_and_write``,
    and after every member committed publishes ONE
    ``commit_group_linked`` snapshot (hard links, zero data I/O even at
    100 TB). Members with no changes in an epoch are still snapshotted
    at their current state — member sets never shrink.

    Readers resolve the group pointer (``read_group``): they see every
    member exactly as of an epoch boundary, never a mid-epoch mix.
    Crash semantics: if the driver dies after some per-table merges but
    before the group flip, the group still resolves to the previous
    epoch for EVERY member (consistent); on restart foreachBatch
    replays the epoch — the latest-wins merges are idempotent — and the
    group pointer advances once. A replayed epoch can bump the group
    commit number twice; the content of both commits is identical, so
    consistency holds (commit numbers are ordering, not identity —
    batch-id lineage pinning lives in ``read_meta``-style consumers).

    Scale: the envelope costs one to_json/from_json round-trip per
    change row — per-batch work, bounded by ``max_files_per_trigger``
    per member, never proportional to table size; the merges themselves
    keep the partition-scoped / zone-map-scoped pruning of the batch
    path."""
    if not members:
        raise ValueError("start_cdc_group_stream needs at least one member")
    from functools import reduce

    from ..metadata import source_ordered

    member_names = sorted(members)
    specs: dict[str, dict] = {}
    streams = []
    for name in member_names:
        spec = dict(members[name])
        target_schema = warehouse.read(spark, name).schema
        if spec.get("column_order"):
            target_schema = StructType(
                [
                    target_schema[c]
                    for c in source_ordered(
                        target_schema.fieldNames(), spec["column_order"]
                    )
                ]
            )
        spec["cdc_schema"] = cdc_schema(target_schema)
        specs[name] = spec
        s = read_cdc_stream(
            spark,
            spec["landing_glob"],
            target_schema,
            max_files_per_trigger,
            file_format=spec.get("file_format", "csv"),
        )
        # capability flags from the stream's ACTUAL columns — format-
        # agnostic (avro flips between the rownum and blockstart
        # contracts depending on whether spark-avro is deployed)
        spec["has_rownum"] = "_dms_rownum" in s.columns
        spec["has_block"] = "_dms_blockstart" in s.columns
        payload_cols = [c for c in s.columns if not c.startswith("_dms_")]
        streams.append(
            s.select(
                F.lit(name).alias("_dms_table"),
                F.to_json(F.struct(*payload_cols)).alias("_dms_payload"),
                F.col("_dms_filename"),
                (
                    F.col("_dms_rownum")
                    if "_dms_rownum" in s.columns
                    else F.lit(None).cast("long")
                ).alias("_dms_rownum"),
                (
                    F.col("_dms_blockstart")
                    if "_dms_blockstart" in s.columns
                    else F.lit(None).cast("long")
                ).alias("_dms_blockstart"),
            )
        )
    stream = reduce(DataFrame.unionByName, streams)

    lineage = os.path.realpath(checkpoint_dir)

    def merge_epoch(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns:
            return
        if replayed(warehouse.group_meta(group), lineage, batch_id,
                    "checkpoint", "last_batch_id"):
            # re-delivered epoch (crash between the group flip and the
            # streaming checkpoint advance): every member merge already
            # committed AND the group pointer already advanced — skip
            # with one JSON read, zero data I/O, and no double bump of
            # the group commit number (the marker commits atomically
            # WITH the flip, so it can never claim an unpublished
            # epoch). The pre-guard replay path — re-merge idempotently
            # and re-snapshot — remains for crashes BEFORE the flip.
            return
        batch = batch.persist()
        try:
            if batch.isEmpty():
                return
            for name in member_names:
                spec = specs[name]
                sub = batch.filter(F.col("_dms_table") == name)
                if sub.isEmpty():
                    continue  # snapshotted at current state below
                want = spec["cdc_schema"]
                parsed = sub.select(
                    F.from_json("_dms_payload", want).alias("__r"),
                    "_dms_filename",
                    "_dms_rownum",
                    "_dms_blockstart",
                )
                has_rownum = spec["has_rownum"]
                has_block = spec["has_block"]
                keep = ["__r.*", "_dms_filename"]
                if has_rownum:
                    keep.append("_dms_rownum")
                elif has_block:
                    keep.append("_dms_blockstart")
                slice_df = parsed.select(*keep)
                _null_pk_tripwire(slice_df, spec["pks"], batch_id)
                changes = _with_rownum(slice_df)
                merge_and_write(
                    warehouse,
                    name,
                    warehouse.read(spark, name),
                    changes,
                    pks=spec["pks"],
                    version_cols=["_dms_filename", "_dms_rownum"],
                    partition_by=spec.get("partition_by"),
                )
            warehouse.commit_group_linked(
                member_names,
                group,
                retain=retain,
                meta={"checkpoint": lineage, "last_batch_id": batch_id},
            )
            if maintenance is not None and batch_id % maintenance_every == 0:
                # bounded advisor pass over the members AFTER the epoch
                # commit (same contract as start_cdc_stream's hook and
                # run_queue's post-cycle slot; failures never fail the
                # epoch — run_maintenance isolates per table)
                from ..maintenance import run_maintenance

                run_maintenance(
                    spark,
                    warehouse,
                    member_names,
                    policy=maintenance,
                    layouts={
                        m: {"partition_by": specs[m].get("partition_by")}
                        for m in member_names
                    },
                )
        finally:
            batch.unpersist()

    writer = (
        stream.writeStream.foreachBatch(merge_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
