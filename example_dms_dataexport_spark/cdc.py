"""incremental_load analogue (ref :271-428) — the pipeline's crown jewel.

Reference flow → Spark mapping:

1. metadata fetch incl. watermark + primary_keys (ref :277-299)
   → MetadataStore.get
2. CDC file pattern ``.*/<schema>/<table>/2.*\\.csv`` (ref :301)
   → regex over the stage listing
3. new-files check ``max(metadata$filename) > watermark`` (ref :358-367)
   → driver-side: prune the *file list* by lexicographic watermark before
     any Spark read is planned.  The reference pushes the filter into the
     stage scan; pruning the listing is the same optimization one level
     earlier (SURVEY §4 — the biggest 100 TB lever), and the early-exit
     "No files to process." (ref :421-423) falls out for free.
4. schema introspection + positional casts (ref :307-348)
   → target schema applied in the CSV read (sources/csv_stage.py)
5. latest-wins dedup + MERGE (ref :369-409)
   → merge.apply_changes: max_by latest-wins dedup + full-outer join
6. advance watermark to max processed file (ref :412-416)
   → MetadataStore.update_watermarks, after the write commits
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .listing import list_stage
from .merge import apply_changes
from .metadata import MetadataStore, source_ordered
from .sources.csv_stage import cdc_schema
from .sources.stage import read_stage, stage_extension
from .sources.warehouse import BUCKET_SPEC_FILE, ParquetWarehouse

# ref :301 — CDC files start with '2' (2YYYYMMDD-nnnnnnnnn.<ext>); the
# extension follows the table's metadata file_format (ref :26).
CDC_PATTERN = r".*/{schema}/{table}/2.*\.{ext}"


def incremental_load(
    spark: SparkSession,
    store: MetadataStore,
    warehouse: ParquetWarehouse,
    full_path: str,
    partition_by: list[str] | None = None,
    schema: StructType | None = None,
) -> str:
    """Apply all CDC files newer than the watermark; returns a status
    string shaped like the reference's returns (ref :418-426).

    ``schema``: additive schema evolution. When the source grows a column
    the CDC files carry an extra positional field the stored target
    doesn't have; pass the EVOLVED target schema and the load reads the
    files against it while back-filling the new columns as NULL on the
    existing rows (the merge then writes the evolved layout). Columns may
    only be added — a schema missing stored columns raises rather than
    silently dropping data.
    """
    meta = store.get(full_path)
    if meta is None:
        return "Specified full_path doesn't exist in dms_metadata table."
    if not meta.stage or not meta.primary_keys:
        return "The fields stage and primary_keys can't be null"  # ref :303-305
    layout = meta.layout()
    if partition_by is None:  # declared layout drives the partition scoping
        partition_by = layout.get("partition_by")

    pattern = CDC_PATTERN.format(
        schema=meta.db_schema,
        table=meta.db_table,
        ext=stage_extension(meta.file_format),
    )
    all_cdc = list_stage(spark, meta.stage, pattern)
    # Watermark compares *file names* lexicographically (ref :359,393) —
    # DMS names encode time as 2YYYYMMDD-nnnnnnnnn so name order = time
    # order; the full-load sentinel '0' sorts before every CDC file.
    new_files = [
        f.path
        for f in all_cdc
        if f.path.rsplit("/", 1)[-1] > meta.last_incremental_file
    ]
    if not new_files:
        return "No files to process."  # ref :421-423

    # Zero-data-I/O replay early-exit (r19 — ref :358-367's check taken
    # one level deeper): the warehouse meta sidecar records the last
    # file each COMMITTED merge consumed (written strictly AFTER the
    # commit, so it can lag the data but never lead it). A re-delivered
    # window — crash between the merge commit and the metadata-store
    # watermark advance — therefore skips the whole merge: the files are
    # "new" only to the stale watermark, which just advances. One JSON
    # read; no data file opens. Genuinely new files (> the recorded
    # mark) fall through to the merge, which re-applies any replayed
    # prefix idempotently (latest-wins).
    last_file = max(f.rsplit("/", 1)[-1] for f in new_files)
    last_merged = warehouse.read_meta(meta.target_table).get(
        "last_merged_file"
    )
    if last_merged is not None and last_file <= last_merged:
        store.update_watermarks(full_path, last_incremental_file=last_file)
        return "No files to process."  # already merged; watermark healed

    target = warehouse.read(spark, meta.target_table)
    evolved = False
    if schema is not None:
        dropped = [c for c in target.columns if c not in schema.fieldNames()]
        if dropped:
            raise ValueError(
                f"schema evolution is additive-only; missing stored columns: "
                f"{dropped}"
            )
        for f_ in schema.fields:
            if f_.name not in target.columns:
                target = target.withColumn(
                    f_.name, F.lit(None).cast(f_.dataType)
                )
                evolved = True
                continue
            cur = target.schema[f_.name].dataType
            if cur != f_.dataType:
                # type evolution is WIDENING-only: every stored value
                # must be exactly representable in the new type, or the
                # rewrite silently corrupts history. Anything lossy
                # (long->double above 2^53, narrowing, string renders)
                # refuses loudly.
                if not _is_widening(cur, f_.dataType):
                    raise ValueError(
                        f"schema evolution of column {f_.name!r} from "
                        f"{cur.simpleString()} to "
                        f"{f_.dataType.simpleString()} is not a lossless "
                        "widening; only byte<short<int<long, "
                        "float/int32-or-smaller -> double, and "
                        "scale/integer-digit-growing decimal changes are "
                        "supported"
                    )
                target = target.withColumn(
                    f_.name, F.col(f_.name).cast(f_.dataType)
                )
                evolved = True
        target = target.select(*schema.fieldNames())
        read_schema = schema
    else:
        if meta.column_order:
            # the positional CDC cast follows the SOURCE order recorded
            # at full load — a partitioned target's schema reads back
            # partition-columns-last, which would garble the cast
            target = target.select(
                *source_ordered(target.columns, meta.column_order)
            )
        read_schema = target.schema
    changes = read_stage(
        spark,
        new_files,
        cdc_schema(read_schema),
        file_format=meta.file_format,
        with_file_metadata=True,
    )
    version_cols = ["_dms_filename", "_dms_rownum"]  # ref :382 total order

    n = merge_and_write(
        warehouse,
        meta.target_table,
        target,
        changes,
        pks=meta.primary_keys,
        version_cols=version_cols,
        partition_by=partition_by,
        # An evolution batch must not be partition-scoped: rewriting only
        # touched partitions would leave untouched partition dirs on the
        # OLD parquet layout, and a later plain read (mergeSchema off) can
        # resolve the table schema from an old-layout footer — silently
        # losing the new column. Force the one-time full rewrite.
        full_rewrite=evolved,
        layout=layout,
    )

    # ordering: data commit (above) -> merge high-water mark -> store
    # watermark. Every crash window re-runs conservatively: before the
    # mark, the replay early-exit can't trigger (re-merge, idempotent);
    # after it, the early-exit heals the watermark without a merge.
    warehouse.update_meta(meta.target_table, {"last_merged_file": last_file})
    if schema is not None:  # evolution: the new order is authoritative
        store.update_column_order(full_path, schema.fieldNames())
    store.update_watermarks(full_path, last_incremental_file=last_file)
    return f"Rows affected: {n}."


def merge_and_write(
    warehouse: ParquetWarehouse,
    target_table: str,
    target,
    changes,
    pks: list[str],
    version_cols: list[str],
    partition_by: list[str] | None = None,
    full_rewrite: bool = False,
    layout: dict | None = None,
    prune_files: bool = True,
) -> int:
    """MERGE ``changes`` into ``target`` and commit to ``target_table``;
    returns the written row count. ONE code path for the merge+write,
    shared by the batch loader and the streaming foreachBatch driver.

    ``prune_files`` enables the FILE-scoped merge (the file-level
    analogue of partition scoping, ref :369-408 — where the reference
    delegates to Snowflake's micro-partition pruning): a chain of
    pruners (``_touched_files``) lists the target files a matching row
    could live in, the merge joins against only those files, and
    ``replace_files`` carries every other file into the new state as a
    hard link — I/O proportional to the batch's key locality, not the
    table. The ZONE pruner splits the files on the batch's PK min/max
    when the target carries a zone map covering a primary-key column;
    on a flat target with no covering map (or whose map keeps every
    file) the SCAN pruner's exact pk semi-join lists the touched files
    instead — the layout-independent fallback for targets unclustered
    on their key. When every pruner declines the merge rewrites the
    whole table. ``prune_files=False`` skips the chain: the whole-table
    reference path. Correctness is unconditional: a change row's PK lies
    inside the batch's range (and in the semi-join's key set), so every
    target file that could contain a matching row is listed, and
    unlisted files can only hold rows the full-outer merge would pass
    through unchanged (NULL-PK rows never equality-match a change).

    ``layout`` (``TableMeta.layout()``) re-applies the table's declared
    clustering / zone-map options whenever the write is a FULL rewrite,
    so a reload or evolution batch lands read-optimized. The
    partition-scoped path deliberately ignores the clustering options: a
    global range-cluster would shuffle the whole table — exactly what
    partition scoping exists to avoid — and the zone map is dropped by
    ``replace_partitions`` (rebuild with ``write_zonemap`` after a
    compaction cycle).

    With ``partition_by`` the merge is partition-scoped — the 100 TB path
    (SURVEY §7.3a): partition columns must be stable per PK (a pk-derived
    bucket or immutable date), so a change only touches its own
    partition, the target scan is partition-pruned to the batch's
    partitions, and the rewrite is proportional to the CDC batch, not
    the table. When the partitioned table ALSO carries a zone map
    covering a primary-key column, the zone pruner runs over the touched
    partitions' files (the HYBRID scope): partition pruning picks the
    directories, the zone map picks the files inside them, and
    ``replace_files(partition_by=...)`` hard-links every disjoint and
    untouched file through — a 10-row change to a 100 GB partition no
    longer rewrites the partition, only its overlapping files.

    ``full_rewrite`` disables the partition-scoped path for one batch
    while KEEPING the hive partition layout on disk — the schema-
    evolution case, where every partition dir must be rewritten to the
    evolved layout so no reader can resolve the table schema from a
    stale old-layout footer.
    """
    # MERGE-ON-READ FOLD: a pending _deletes sidecar no longer stalls
    # ingestion (the r11 weak mark: defer-mode GDPR serialized every
    # sync behind a manual materialize). When the merge's primary keys
    # EQUAL the pending key columns, the pending set folds into the
    # merge itself: (a) every sub-target masks the pending keys, so
    # rewritten files physically drop the masked rows; (b) the sidecar
    # is rewritten to pending ⊖ batch-keys, so a key the batch
    # re-inserts stops being masked — sound because every scoped path's
    # touched set provably covers ALL rows holding a batch pk (partition
    # cols are stable per pk; a zone band holding a batch pk overlaps
    # the batch's range; the scan discovery is an exact pk semi-join),
    # so no masked row whose key leaves the sidecar survives unrewritten.
    #
    # With DIFFERENT key columns (the common compliance composition:
    # defer-mode GDPR keyed on subject_id while the CDC pks are
    # order/line ids) the sidecar cannot be subtracted — none of the
    # scoping proofs cover the subject key — so the fold instead carries
    # the sidecar INTACT (an empty subtraction) and masks the CHANGE
    # BATCH against the pending set: (a) rewritten files are built from
    # masked inputs, so they physically lack subject rows; (b) untouched
    # files' subject rows stay masked by the carried sidecar; (c) a
    # batch row RE-ASSERTING a pending subject is masked too — the
    # compliance plane outranks the data plane until the deletion is
    # materialized (the deliberate asymmetry vs the same-key fold, where
    # batch re-inserts win). Crash-replay converges BECAUSE the sidecar
    # survives the commit: a replayed batch is masked by the same
    # pending set, unlike the drop-the-sidecar alternative, whose replay
    # would resurrect the batch's masked rows. The compliance clock
    # (manifest ts) keeps ticking, so the maintenance scheduler still
    # materializes the physical bytes on schedule.
    fold_minus = None
    carry_intact = False
    dm = warehouse.pending_deletes(target_table)
    if dm is not None:
        kcols = warehouse._delete_key_cols(dm)
        if set(kcols) != set(pks):
            missing = [c for c in kcols if c not in changes.columns]
            if missing:
                raise ValueError(
                    f"{target_table!r} has pending merge-on-read "
                    f"deletes on {kcols!r}, and the change batch "
                    f"lacks column(s) {missing!r} — the batch cannot "
                    "be masked against the pending set; run "
                    "materialize_deletes() first"
                )
            changes = warehouse._apply_pending_deletes(
                changes.sparkSession, changes, target_table
            )
            if not full_rewrite:
                # empty subtraction: every scoped commit rewrites the
                # sidecar verbatim (original keys, original ts)
                fold_minus = changes.select(*kcols).limit(0)
                carry_intact = True
            # a full_rewrite (evolution) batch rewrites EVERY file from
            # the masked target, so any-key pending deletes apply
            # physically and the swap drops the sidecar — no scoping
            # proof needed, no sidecar carry (fold_minus stays None).
            # The batch is masked ABOVE too: without it, a batch row
            # re-asserting a pending GDPR subject would land physically
            # in the evolved state while the erasure record vanished
            # with the sidecar — the compliance plane outranks the data
            # plane until the deletion is materialized, same asymmetry
            # as the carry-intact fold.
        else:
            fold_minus = changes.select(*kcols).distinct()
        # defensive re-mask: incremental_load's target comes from
        # warehouse.read (already masked); a direct caller's may not be.
        # The anti-join is idempotent and the pending set is bounded.
        target = warehouse._apply_pending_deletes(
            changes.sparkSession, target, target_table
        )
    # An empty batch applies nothing: short-circuit with NO commit at
    # all — every scoped path would otherwise churn a full directory of
    # hard links (or a whole-table rewrite) for a no-op. full_rewrite is
    # exempt: an evolution batch may be empty yet must still rewrite
    # every file to the evolved layout.
    if not full_rewrite and not partition_by and changes.isEmpty():
        return 0
    if partition_by and not full_rewrite:
        # the touched-partition collect below doubles as the empty-batch
        # probe (zero distinct tuples <=> zero rows), so the partitioned
        # path skips the separate isEmpty() pass — one fewer full
        # evaluation of the change-batch subtree per merge (r20, §1.2
        # "don't compute things you throw away"; the zone/scan paths
        # keep the cheap isEmpty gate above)
        touched = [
            tuple(r[c] for c in partition_by)
            for r in changes.select(*partition_by).distinct().collect()
        ]
        if not touched:
            return 0
        if prune_files:
            # HYBRID scope: the zone pruner lists the touched files inside
            # the touched partitions; the partition-scoped rewrite below
            # is the fallback when the table carries no covering map or
            # nothing would prune
            overlap = _touched_files(
                warehouse, target_table, changes, pks, partition_by, touched
            )
            if overlap is not None:
                return _merge_touched_files(
                    warehouse, target_table, target, changes, pks,
                    version_cols, overlap, partition_by, fold_minus,
                )
        # One struct-IN predicate, not an OR-chain of equality conjunctions:
        # thousands of touched partitions would otherwise build a huge
        # expression tree that slows analysis/codegen. Catalyst converts
        # this to a single INSET and it still lands in PartitionFilters
        # (verified by tests/test_partitioned_cdc.py), so the target scan
        # stays partition-pruned. Literal fields are aliased+cast to the
        # target's column names/types so the struct types unify.
        # A NULL inside a tuple would make struct-IN evaluate to NULL and
        # silently exclude that partition's target rows from the merge while
        # replace_partitions still rewrites it — so NULL-bearing tuples get
        # a null-safe eqNullSafe conjunction instead (rare: partition
        # columns are normally non-null by construction).
        non_null = [vals for vals in touched if all(v is not None for v in vals)]
        with_null = [vals for vals in touched if any(v is None for v in vals)]
        pred = F.lit(False)
        if non_null:
            pred = F.struct(*partition_by).isin(
                [
                    F.struct(
                        *[
                            F.lit(v).cast(target.schema[c].dataType).alias(c)
                            for c, v in zip(partition_by, vals)
                        ]
                    )
                    for vals in non_null
                ]
            )
        for vals in with_null:
            conj = F.lit(True)
            for c, v in zip(partition_by, vals):
                conj = conj & F.col(c).eqNullSafe(
                    F.lit(v).cast(target.schema[c].dataType)
                )
            pred = pred | conj
        merged = apply_changes(
            target.filter(pred),  # partition-pruned scan
            changes,
            pks=pks,
            version_cols=version_cols,
        )
        merged = merged.persist()
        n = merged.count()  # materialize before overwriting what we read
        # AQE rebalance on the partition columns at THIS call site (r20,
        # §6): the persisted merge result pins its pre-AQE pk-hash
        # partitioning, so the dynamic overwrite fanned one file per
        # cached partition per touched value (measured: 32 files per
        # touched partition for a 3k-row merge; at cluster scale,
        # shuffle-partitions x touched tiny files per merge). The
        # rebalance shuffles only the batch-sized merge output and AQE
        # sizes the files; replace_partitions itself stays
        # no-implicit-rebalance (erase_subjects and the ANN extend own
        # their layouts — the r19 scoping rule). No file-grain pruning
        # contract exists on this path: replace_partitions drops the
        # zone map and partition pruning is directory-grain.
        warehouse.replace_partitions(
            merged.hint("rebalance", *partition_by),
            target_table, partition_by, touched,
            carry_deletes_minus=fold_minus,
        )
        merged.unpersist()
        return n
    if not full_rewrite and prune_files:
        overlap = _touched_files(warehouse, target_table, changes, pks)
        if overlap is not None:
            return _merge_touched_files(
                warehouse, target_table, target, changes, pks,
                version_cols, overlap, fold_minus=fold_minus,
            )
    merged = apply_changes(
        target, changes, pks=pks, version_cols=version_cols
    ).persist()
    n = merged.count()  # materialization also validates before the swap
    spec = warehouse.bucket_spec(target_table)
    if spec is not None:
        # BUCKETED target: the whole-table rewrite goes through the
        # bucket-preserving staged replace (every existing file in the
        # replaced set), or the merge silently degrades the co-located-
        # join layout to plain parquet. Versus the old write_bucketed
        # (rmtree + rewrite) path this (a) stages to a temp dir and
        # swaps atomically, so `merged` can lazily read the files it
        # replaces — no localCheckpoint materialization needed; and
        # (b) handles pending merge-on-read deletes correctly:
        # write_bucketed's rmtree would DESTROY a carried sidecar,
        # letting a crash-replayed (or later) batch resurrect a pending
        # GDPR subject — the carry-intact fold instead rides the same
        # atomic swap, and the matched-key fold drops the sidecar with
        # the swap exactly like the flat whole-table overwrite (the
        # complete new state was built from the masked target, so every
        # pending delete applied physically).
        final = warehouse.path(target_table)
        with warehouse._write_fence(
            target_table,
            lock_path=warehouse._mutation_lock_path(target_table),
        ):
            existing = sorted(
                f
                for f in os.listdir(final)
                if f.endswith(".parquet")
                and os.path.isfile(os.path.join(final, f))
            )
            warehouse._replace_files_unlocked(
                merged,
                target_table,
                existing,
                allow_pending_deletes=(dm is not None and not carry_intact),
                carry_deletes_minus=fold_minus if carry_intact else None,
                bucket_spec=spec,
            )
        merged.unpersist()
        return n
    # full_rewrite keeps the partition layout: the atomic whole-table
    # swap also drops any pending tombstone marker with the old dir —
    # EXCEPT under the mismatched-key fold, where the sidecar must
    # survive the commit (carry_deletes_intact) or a crash-replay of
    # the batch would resurrect its masked rows.
    lay = layout or {}
    warehouse.overwrite(
        merged,
        target_table,
        partition_by=partition_by,
        cluster_by=lay.get("cluster_by"),
        zorder_by=lay.get("zorder_by"),
        cluster_partitions=lay.get("cluster_partitions"),
        stat_cols=lay.get("stat_cols"),
        bloom_cols=lay.get("bloom_cols"),
        carry_deletes_intact=carry_intact,
    )
    merged.unpersist()
    return n


def _is_numeric(dt) -> bool:
    from pyspark.sql.types import NumericType

    return isinstance(dt, NumericType)


def _is_widening(src, dst) -> bool:
    """True when every ``src`` value is EXACTLY representable in
    ``dst`` — the safety condition for in-place type evolution:
    byte<short<int<long; float and <=32-bit integers embed exactly in
    float64; decimal may grow its scale and/or integer digits. Long ->
    double is NOT widening (loses precision above 2^53); nothing ->
    string is NOT widening (rendering is engine-specific); date ->
    timestamp is NOT widening (implicit-midnight semantics shift)."""
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    ladder = (ByteType, ShortType, IntegerType, LongType)

    def rank(dt):
        for i, t in enumerate(ladder):
            if isinstance(dt, t):
                return i
        return None

    rs, rd = rank(src), rank(dst)
    if rs is not None and rd is not None:
        return rd >= rs
    if isinstance(dst, DoubleType):
        # float32 and integers up to 32 bits are exact in float64
        return isinstance(src, FloatType) or (rs is not None and rs <= 2)
    if isinstance(src, DecimalType) and isinstance(dst, DecimalType):
        return (
            dst.precision - dst.scale >= src.precision - src.scale
            and dst.scale >= src.scale
        )
    return False


# Above this many distinct batch keys the scan-scoped merge's semi-join
# probe is NOT broadcast-hinted (AQE picks the shuffled strategy instead
# of risking the driver on an unbounded backfill batch).
_SCAN_BROADCAST_KEY_CAP = 2_000_000

# The characters Spark's ExternalCatalogUtils percent-escapes in hive
# partition directory names (plus control chars and DEL, handled in
# code): a string value containing any of these renders differently on
# disk than Python str() would build it.
_HIVE_ESCAPED_CHARS = set('"#%\'*/:=?\\{[]^ \t\n\r')


def _batch_scope(changes, scope_cols: list[str]):
    """The change batch's zone scope: per-column [min, max] ``ranges``
    plus, for a numeric leading key, <= 64 width-bucket sub-ranges
    (``subs``). One global [min, max] over-covers SCATTERED batches — a
    batch touching both ends of the keyspace spans every band — so the
    leading key is width-bucketed with one more batch-sized agg and
    pruning tests the UNION of non-empty buckets: empty buckets leave
    the middle of the keyspace disjoint, and any key is inside its own
    bucket's [min, max], so every file that could hold a matching row
    still overlaps some sub-range. Returns None for an empty or
    all-NULL-key batch; ``subs`` is None for non-numeric leads."""
    bounds = changes.agg(
        *[F.min(c).alias(f"__lo_{c}") for c in scope_cols],
        *[F.max(c).alias(f"__hi_{c}") for c in scope_cols],
    ).first()
    ranges = {
        c: (bounds[f"__lo_{c}"], bounds[f"__hi_{c}"]) for c in scope_cols
    }
    if any(lo is None or hi is None for lo, hi in ranges.values()):
        return None
    subs = None
    lead = scope_cols[0]
    if _is_numeric(changes.schema[lead].dataType):
        k = 64
        lo, hi = ranges[lead]
        if hi > lo:
            bucket = F.least(
                F.lit(k - 1),
                F.floor(
                    (F.col(lead) - F.lit(lo)) * k / (F.lit(hi) - F.lit(lo))
                ),
            )
        else:
            bucket = F.lit(0)
        subs = [
            (r["__l"], r["__h"])
            for r in changes.filter(F.col(lead).isNotNull())
            .groupBy(bucket.alias("__b"))
            .agg(F.min(lead).alias("__l"), F.max(lead).alias("__h"))
            .collect()
        ]
    return ranges, subs


def _touched_files(
    warehouse: ParquetWarehouse,
    target_table: str,
    changes,
    pks: list[str],
    partition_by: list[str] | None = None,
    touched: list[tuple] | None = None,
) -> list[str] | None:
    """The touched-file PRUNER CHAIN (prune, then merge once): each
    pruner lists the target files a batch key could match, as paths
    relative to the table dir, or declines with None. One decline rule
    for all of them: a pruner that keeps every file declines, so the
    next one runs. The zone pruner runs first — over the ``touched``
    partitions' files when the table is partitioned, over all files
    when it is flat; the scan pruner's exact pk semi-join runs for flat
    tables only. Returns the first list that drops a file, or None when
    every pruner declines (the caller's directory-grain or whole-table
    path then runs)."""
    # versioned snapshots commit whole states: a flat one takes the
    # whole-table path, a partitioned one refuses loudly in replace_files
    if not partition_by and os.path.isfile(
        warehouse._version_pointer(target_table)
    ):
        return None

    def chain():
        yield _zone_files(warehouse, target_table, changes, pks,
                          partition_by, touched)
        if not partition_by:
            yield _scan_files(warehouse, target_table, changes, pks)

    for found in chain():
        if found is not None and len(found[0]) < found[1]:
            return found[0]
    return None


def _zone_files(
    warehouse: ParquetWarehouse,
    target_table: str,
    changes,
    pks: list[str],
    partition_by: list[str] | None,
    touched: list[tuple] | None,
) -> tuple[list[str], int] | None:
    """ZONE-MAP pruner: ``(overlapping files, table file count)``. One
    batch-sized aggregation (``_batch_scope``) computes the change set's
    per-PK-column min/max; a file is kept iff its band overlaps. On a
    partitioned table only the touched partitions' files are candidates
    (the HYBRID scope): partition columns are stable per PK, so a
    matching row can only live in a touched partition, and emptied
    partitions simply have no directory in the committed state. Declines
    for a missing map or one covering no primary key, an on-disk layout
    that differs from ``partition_by``, partitions whose dirs cannot be
    addressed (``_touched_partition_files``), and all-NULL batch keys."""
    zm = warehouse.zonemap(target_table)
    if zm is None:
        return None
    scope_cols = [c for c in pks if c in zm["stat_cols"]]
    if not scope_cols:
        return None
    # Layout guard: every mapped file must sit under exactly the hive
    # dirs partition_by declares (none for a flat merge). A table
    # hive-partitioned ON DISK but merged without partition_by would
    # crash replace_files; a flat-on-disk (or differently partitioned)
    # table carried through the hybrid would duplicate the merged rows
    # next to their old copies.
    cols = partition_by or []
    for rel in zm["files"]:
        parts = rel.split("/")[:-1]
        if len(parts) != len(cols) or any(
            not p.startswith(f"{c}=") for p, c in zip(parts, cols)
        ):
            return None
    cand = zm["files"]
    if cols:
        cand = _touched_partition_files(warehouse, target_table, cand,
                                        cols, touched)
        if cand is None:
            return None
    scope = _batch_scope(changes, scope_cols)
    if scope is None:
        return None  # all-NULL keys: nothing to scope by
    ranges, subs = scope
    lead = scope_cols[0]
    overlap, _ = warehouse._split_by_subranges(
        cand, lead, subs or [ranges[lead]],
        {c: ranges[c] for c in scope_cols[1:]},
    )
    return overlap, len(zm["files"])


def _hive_renderable(v) -> bool:
    """True when Python ``str(v)`` names ``v``'s hive partition dir
    exactly as Spark wrote it. Spark hive-ESCAPES dir names for many
    value types (timestamps render ':' as '%3A', Python True vs Spark
    'true', '"#%\\'*/:=?\\{[]^' and control chars in strings); only
    integers, NULL (the exact __HIVE_DEFAULT_PARTITION__ sentinel) and
    provably-escape-free strings render identically in both."""
    if v is None:
        return True
    if isinstance(v, bool):
        return False
    if isinstance(v, int):
        return True
    if isinstance(v, str):
        return v != "" and not any(
            ch in _HIVE_ESCAPED_CHARS or ord(ch) < 32 or ord(ch) == 127
            for ch in v
        )
    return False  # timestamps/dates/floats/decimals: formats differ


def _touched_partition_files(
    warehouse: ParquetWarehouse,
    target_table: str,
    files: dict,
    partition_by: list[str],
    touched: list[tuple],
) -> dict | None:
    """The zone-map entries of the files inside the ``touched``
    partitions, or None when a touched partition's directory cannot be
    addressed safely. A mis-rendered prefix would silently exclude the
    partition's files from the merge scope and write the change rows as
    DUPLICATES next to the old ones — so decline (the partition-scoped
    rewrite runs instead) rather than guess."""
    if not all(_hive_renderable(v) for vals in touched for v in vals):
        return None
    prefixes = {
        "/".join(
            f"{c}=__HIVE_DEFAULT_PARTITION__" if v is None else f"{c}={v}"
            for c, v in zip(partition_by, vals)
        )
        for vals in touched
    }
    cand = {
        rel: st for rel, st in files.items() if os.path.dirname(rel) in prefixes
    }
    # A touched partition whose directory EXISTS on disk but matched no
    # map entry means the dir-name rendering of its values disagrees
    # with what Spark wrote (escaped characters, non-canonical casts).
    matched = {os.path.dirname(rel) for rel in cand}
    base = warehouse.path(target_table)
    if any(os.path.isdir(os.path.join(base, p)) for p in prefixes - matched):
        return None
    return cand


def _scan_files(
    warehouse: ParquetWarehouse,
    target_table: str,
    changes,
    pks: list[str],
) -> tuple[list[str], int] | None:
    """SCAN pruner for flat targets: ``(touched files, table file
    count)``, discovered EXACTLY with one semi-join of the target's
    primary-key column(s) — projected down to (pks,
    ``_metadata.file_path``), so the scan reads the pk column, not the
    table — against the batch's distinct keys.

    This is the layout-independent rewrite-amplification fix (the same
    touched-file discovery join Delta's MERGE runs): the zone map only
    prunes when the write layout CLUSTERS the key, but a CDC target
    partition-free and unclustered on its pk — the common
    retrofitted-table case — otherwise pays a FULL-TABLE rewrite per
    batch. Cost: one pk-column scan (columnar, a few % of table bytes)
    + rewrite I/O proportional to the touched files; at 100 TB that is
    the difference between reading ~1 TB of pk values and rewriting a
    handful of files vs rewriting 100 TB. The batch's distinct keys
    broadcast (CDC batches are bounded by design — maxFilesPerTrigger /
    the landing watermark window).

    Exactness: the semi-join reads the committed files themselves, so
    the touched set has no false positives OR negatives — a file not in
    it provably holds no matching pk (NULL pks never equality-match),
    and inserts land in new files. Declines for bucketed and
    hive-on-disk layouts and for single-file tables."""
    base = warehouse.path(target_table)
    if os.path.isfile(os.path.join(base, BUCKET_SPEC_FILE)):
        return None
    all_rels = warehouse._walk_parquet_rels(base)
    if any("/" in rel for rel in all_rels):
        return None  # hive-on-disk without partition_by
    if len(all_rels) <= 1:
        return None  # nothing to prune against
    spark = changes.sparkSession
    # persisted across the count AND the semi-join below — otherwise
    # every scan-scoped batch pays the key-dedup shuffle twice
    keys = changes.select(*pks).distinct().persist()
    try:
        # broadcast only bounded key sets: a catch-up/backfill batch can
        # carry millions of distinct pks, and a forced broadcast would
        # blow the driver where the shuffled semi-join (AQE's choice)
        # completes
        probe = (
            keys if keys.count() > _SCAN_BROADCAST_KEY_CAP
            else F.broadcast(keys)
        )
        touched_fps = [
            r["__fp"]
            for r in spark.read.parquet(base)
            .select(*pks, F.col("_metadata.file_path").alias("__fp"))
            .join(probe, pks, "left_semi")
            .select("__fp")
            .distinct()
            .collect()
        ]
    finally:
        keys.unpersist()
    overlap = {ParquetWarehouse.file_rel(fp, base) for fp in touched_fps}
    return sorted(overlap), len(all_rels)


def _merge_touched_files(
    warehouse: ParquetWarehouse,
    target_table: str,
    target,
    changes,
    pks: list[str],
    version_cols: list[str],
    touched_files: list[str],
    partition_by: list[str] | None = None,
    fold_minus=None,
) -> int:
    """The copy-on-write tail every file pruner shares: merge the batch
    against only ``touched_files`` and commit through ``replace_files``,
    which hard-links every other file into the new state. Returns the
    written row count. replace_files stages to a temp dir and swaps
    atomically, so the lazy merged plan may safely read the files it
    replaces."""
    base = warehouse.path(target_table)
    spark = changes.sparkSession
    if touched_files:
        sub_target = (
            spark.read.option("basePath", base)
            .parquet(*[os.path.join(base, rel) for rel in touched_files])
            # mirror the caller's (possibly source-reordered) column order
            .select(*target.columns)
        )
        # pending-delete fold: the raw file read bypasses the read mask,
        # so the masked rows must be dropped here or the rewrite would
        # resurrect them (merge_and_write's fold contract)
        sub_target = warehouse._apply_pending_deletes(
            spark, sub_target, target_table
        )
    else:  # no listed file holds a batch key: pure inserts
        sub_target = target.limit(0)
    merged = apply_changes(
        sub_target, changes, pks=pks, version_cols=version_cols
    )
    res = warehouse.replace_files(
        merged, target_table, touched_files, partition_by=partition_by,
        carry_deletes_minus=fold_minus,
    )
    return res["rows_written"]
