"""Bench-scale streaming-CDC fixture: the q18 change-set, served as CSV
files through Structured Streaming's file source + foreachBatch MERGE.

Builds a landing zone from ``orders`` (same deterministic op/key derivation
as q18), full-loads ``customer`` as the target, runs the stream to
completion with ``Trigger.AvailableNow``, and exposes the batch-path
expectation (one global ``apply_changes`` over the same files) for parity
checks — used by tests/test_streaming.py at sf0.01 and by bench.py at the
bench scale factor.

Changes are bucketed so each primary key lands in exactly ONE file: the
final table state is then independent of the order the file source picks
micro-batches in (mtime vs name order), which is what makes the
stream-vs-batch comparison exact rather than racy. Cross-file latest-wins
ordering is covered separately by test_cdc_stream_matches_batch_merge.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..merge import apply_changes
from ..sources.csv_stage import cdc_schema, read_stage_csv
from ..sources.warehouse import ParquetWarehouse
from ..tables import load_table
from .cdc_stream import start_cdc_stream

CUST_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


def _changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q18's deterministic change-set: D/U/I by orderkey%10, I rows target
    absent keys. Column order matches the CDC positional layout
    (op, then target columns)."""
    orders = load_table(spark, sf_dir, "orders")
    opmod = F.col("o_orderkey") % 10
    return orders.select(
        F.when(opmod < 2, "D").when(opmod < 6, "U").otherwise("I").alias("op"),
        F.when(opmod >= 6, F.col("o_custkey") + 1000000)
        .otherwise(F.col("o_custkey"))
        .alias("c_custkey"),
        F.concat(F.lit("chg-"), F.col("o_orderkey").cast("string")).alias("c_name"),
        (F.col("o_orderkey") % 25).cast("int").alias("c_nationkey"),
        (F.col("o_totalprice") + 1000).alias("c_acctbal"),
        F.col("o_orderpriority").alias("c_mktsegment"),
    )


def run_cdc_stream_fixture(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 8,
    max_files_per_trigger: int = 2,
) -> ParquetWarehouse:
    """Full-load customer, write the change-set as ``n_files`` CSVs
    (PK-per-file bucketing), stream-merge them to completion. Returns the
    warehouse holding the final ``customer`` table."""
    wh = ParquetWarehouse(os.path.join(workdir, "wh"))
    cust = load_table(spark, sf_dir, "customer").select(*CUST_COLS)
    wh.overwrite(cust, "customer")

    landing = os.path.join(workdir, "landing")
    (
        _changes(spark, sf_dir)
        .withColumn("_b", F.pmod(F.col("c_custkey"), F.lit(n_files)))
        .repartition(n_files, "_b")
        .drop("_b")
        .write.mode("overwrite")
        .csv(landing)
    )
    q = start_cdc_stream(
        spark,
        os.path.join(landing, "part-*.csv"),
        wh,
        "customer",
        pks=["c_custkey"],
        checkpoint_dir=os.path.join(workdir, "ckpt"),
        max_files_per_trigger=max_files_per_trigger,
    )
    q.awaitTermination(600)
    return wh


def run_partitioned_cdc_fixture(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_buckets: int = 32,
    touched_buckets: int = 4,
) -> tuple[int, int, int]:
    """Partition-scoped BATCH merge at bench scale (SURVEY §7.3a — the
    100 TB CDC path): customer is stored hive-partitioned by a stable
    pk-derived bucket, the q18 change-set is restricted to
    ``touched_buckets`` of ``n_buckets`` partitions, and
    ``merge_and_write`` must prune the target scan to — and rewrite
    only — those partitions. Benchmarked per-round so rewrite-
    amplification regressions (a merge that silently rescans or
    rewrites the whole table) show up as a wall-time jump in BENCH
    deltas. Returns (rows_affected, touched_buckets, n_buckets)."""
    from ..cdc import merge_and_write

    def bucket(col):
        return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")

    wh = ParquetWarehouse(os.path.join(workdir, "wh"))
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(*CUST_COLS)
        .withColumn("c_bucket", bucket(F.col("c_custkey")))
    )
    wh.overwrite(cust, "customer", partition_by=["c_bucket"])

    orders = load_table(spark, sf_dir, "orders")
    opmod = F.col("o_orderkey") % 10
    changes = (
        orders.select(
            F.when(opmod < 2, "D").when(opmod < 6, "U").otherwise("I").alias("op"),
            F.when(opmod >= 6, F.col("o_custkey") + 1000000)
            .otherwise(F.col("o_custkey"))
            .alias("c_custkey"),
            F.concat(F.lit("chg-"), F.col("o_orderkey").cast("string")).alias(
                "c_name"
            ),
            (F.col("o_orderkey") % 25).cast("int").alias("c_nationkey"),
            (F.col("o_totalprice") + 1000).alias("c_acctbal"),
            F.col("o_orderpriority").alias("c_mktsegment"),
            F.col("o_orderdate").alias("_file"),
            F.col("o_orderkey").alias("_rownum"),
        )
        .withColumn("c_bucket", bucket(F.col("c_custkey")))
        .filter(F.col("c_bucket") < touched_buckets)
    )
    n = merge_and_write(
        wh,
        "customer",
        wh.read(spark, "customer"),
        changes,
        pks=["c_custkey"],
        version_cols=["_file", "_rownum"],
        partition_by=["c_bucket"],
    )
    return n, touched_buckets, n_buckets


def batch_expected(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """The batch-path answer over the SAME landed files: one global
    latest-wins apply_changes — what the stream must converge to."""
    cust = load_table(spark, sf_dir, "customer").select(*CUST_COLS)
    files = sorted(glob.glob(os.path.join(workdir, "landing", "part-*.csv")))
    changes = read_stage_csv(
        spark, files, cdc_schema(cust.schema), with_file_metadata=True
    )
    return apply_changes(
        cust,
        changes,
        pks=["c_custkey"],
        version_cols=["_dms_filename", "_dms_rownum"],
    )


def run_zone_cdc_fixture(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 16,
) -> tuple[int, int, int]:
    """Zone-map-scoped BATCH merge at bench scale (the file-level twin
    of ``run_partitioned_cdc_fixture``; ref :369-408): customer is
    stored UNpartitioned but range-clustered on its PK with a zone map,
    the q18 change-set is restricted to a narrow PK band
    (2/5..9/20 of the keyspace), and ``merge_and_write``'s automatic
    zone pruner must join against only the overlapping files and
    hard-link the rest through. Benchmarked per-round so a regression
    back to whole-table merge I/O shows up as a wall-time jump.
    Returns (rows_written, files_carried, files_total)."""
    import os as _os

    from ..cdc import merge_and_write

    wh = ParquetWarehouse(_os.path.join(workdir, "wh"))
    cust = load_table(spark, sf_dir, "customer").select(*CUST_COLS)
    wh.overwrite(
        cust,
        "customer",
        cluster_by=["c_custkey"],
        cluster_partitions=n_files,
        stat_cols=["c_custkey"],
    )
    maxk = cust.agg(F.max("c_custkey")).first()[0]
    lo, hi = maxk * 2 / 5, maxk * 9 / 20

    orders = load_table(spark, sf_dir, "orders")
    opmod = F.col("o_orderkey") % 10
    changes = orders.filter(
        F.col("o_custkey").between(F.lit(lo), F.lit(hi))
    ).select(
        F.when(opmod < 2, "D").otherwise("U").alias("op"),
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("chg-"), F.col("o_orderkey").cast("string")).alias(
            "c_name"
        ),
        (F.col("o_orderkey") % 25).cast("int").alias("c_nationkey"),
        (F.col("o_totalprice") + 1000).alias("c_acctbal"),
        F.col("o_orderpriority").alias("c_mktsegment"),
        F.col("o_orderdate").alias("_file"),
        F.col("o_orderkey").alias("_rownum"),
    )

    def _files():
        d = wh.path("customer")
        return {
            n: _os.stat(_os.path.join(d, n)).st_ino
            for n in _os.listdir(d)
            if n.endswith(".parquet")
        }

    before = _files()
    n = merge_and_write(
        wh,
        "customer",
        wh.read(spark, "customer"),
        changes,
        pks=["c_custkey"],
        version_cols=["_file", "_rownum"],
    )
    after = _files()
    carried = sum(1 for r in before if r in after and after[r] == before[r])
    if carried == 0:
        raise AssertionError(
            "zone-scoped bench merge carried no file: pruning regressed"
        )
    return n, carried, len(before)


def run_hybrid_cdc_fixture(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_parts: int = 4,
    n_files: int = 16,
) -> tuple[int, int, int]:
    """HYBRID partition+file BATCH merge at bench scale (the composition
    of the two fixtures above; cdc._zone_files over the touched
    partitions): customer is
    hive-partitioned on a stable pk-derived quarter bucket AND
    range-clustered on the pk within partitions with a zone map; the
    q18 change-set is restricted to a narrow key band inside ONE
    partition. merge_and_write must prune to that partition's
    overlapping files only — every untouched partition's file and the
    touched partition's disjoint files hard-link through. Returns
    (rows_written, files_carried, files_total)."""
    import os as _os

    from ..cdc import merge_and_write

    wh = ParquetWarehouse(_os.path.join(workdir, "wh"))
    cust = load_table(spark, sf_dir, "customer").select(*CUST_COLS)
    maxk = cust.agg(F.max("c_custkey")).first()[0]
    part = (
        F.floor(F.col("c_custkey") * n_parts / F.lit(maxk + 1)).cast("int")
    )
    wh.overwrite(
        cust.withColumn("c_part", part),
        "customer",
        partition_by=["c_part"],
        cluster_by=["c_custkey"],
        cluster_partitions=n_files,
        stat_cols=["c_custkey"],
    )
    lo, hi = maxk * 2 / 5, maxk * 9 / 20

    orders = load_table(spark, sf_dir, "orders")
    opmod = F.col("o_orderkey") % 10
    changes = orders.filter(
        F.col("o_custkey").between(F.lit(lo), F.lit(hi))
    ).select(
        F.when(opmod < 2, "D").otherwise("U").alias("op"),
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("chg-"), F.col("o_orderkey").cast("string")).alias(
            "c_name"
        ),
        (F.col("o_orderkey") % 25).cast("int").alias("c_nationkey"),
        (F.col("o_totalprice") + 1000).alias("c_acctbal"),
        F.col("o_orderpriority").alias("c_mktsegment"),
        F.floor(F.col("o_custkey") * n_parts / F.lit(maxk + 1))
        .cast("int")
        .alias("c_part"),
        F.col("o_orderdate").alias("_file"),
        F.col("o_orderkey").alias("_rownum"),
    )

    def _files():
        out = {}
        base = wh.path("customer")
        for dirpath, _dirs, files in _os.walk(base):
            for f in files:
                if f.endswith(".parquet"):
                    rel = _os.path.relpath(_os.path.join(dirpath, f), base)
                    out[rel] = _os.stat(_os.path.join(dirpath, f)).st_ino
        return out

    before = _files()
    n = merge_and_write(
        wh,
        "customer",
        wh.read(spark, "customer"),
        changes,
        pks=["c_custkey"],
        version_cols=["_file", "_rownum"],
        partition_by=["c_part"],
    )
    after = _files()
    carried = sum(1 for r in before if after.get(r) == before[r])
    if carried == 0:
        raise AssertionError(
            "hybrid bench merge carried no file: pruning regressed"
        )
    return n, carried, len(before)


def run_scan_cdc_fixture(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 32,
) -> tuple[int, int, int]:
    """SCAN-scoped BATCH merge at bench scale (cdc._scan_files —
    the layout-independent fallback): customer is stored UNCLUSTERED on
    its pk (hash-scattered on nationkey, NO zone map — the
    retrofitted-table shape), and the q18-style change-set is
    restricted to ~15 customer keys. merge_and_write must discover the
    exact touched files with one pk-column semi-join and hard-link the
    rest through. Benchmarked per-round so a regression back to
    whole-table merge I/O on unclustered targets shows up as a
    wall-time jump. Returns (rows_written, files_carried, files_total)."""
    import os as _os

    from ..cdc import merge_and_write

    wh = ParquetWarehouse(_os.path.join(workdir, "wh"))
    cust = load_table(spark, sf_dir, "customer").select(*CUST_COLS)
    wh.overwrite(
        cust.repartition(n_files, F.col("c_custkey") % 97), "customer"
    )
    orders = load_table(spark, sf_dir, "orders")
    opmod = F.col("o_orderkey") % 10
    changes = orders.filter(F.col("o_custkey") % 1009 == 0).select(
        F.when(opmod < 2, "D").otherwise("U").alias("op"),
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("chg-"), F.col("o_orderkey").cast("string")).alias(
            "c_name"
        ),
        (F.col("o_orderkey") % 25).cast("int").alias("c_nationkey"),
        (F.col("o_totalprice") + 1000).alias("c_acctbal"),
        F.col("o_orderpriority").alias("c_mktsegment"),
        F.col("o_orderdate").alias("_file"),
        F.col("o_orderkey").alias("_rownum"),
    )

    def _files():
        d = wh.path("customer")
        return {
            n: _os.stat(_os.path.join(d, n)).st_ino
            for n in _os.listdir(d)
            if n.endswith(".parquet")
        }

    before = _files()
    n = merge_and_write(
        wh,
        "customer",
        wh.read(spark, "customer"),
        changes,
        pks=["c_custkey"],
        version_cols=["_file", "_rownum"],
    )
    after = _files()
    carried = sum(1 for r in before if after.get(r) == before[r])
    if carried == 0:
        raise AssertionError(
            "scan-scoped bench merge carried no file: pruning regressed"
        )
    return n, carried, len(before)


def run_mor_delete_fixture(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 16,
) -> tuple[int, int, int]:
    """Merge-on-read delete + pruned materialization at bench scale
    (``delete_keys``/``materialize_deletes`` — the instant-delete path;
    ref :488-492's DELETE is delegated to Snowflake's engine): customer
    is stored pk-clustered with a bloom manifest, a 5%-band key set
    deletes through the ``_deletes`` sidecar with ZERO data-file I/O,
    and materialization must discover the affected files from the
    manifest alone and rewrite only those. Benchmarked per-round so a
    regression to whole-table discovery or rewrite shows up as a
    wall-time jump. Returns (keys_applied, files_carried, files_total)."""
    import os as _os

    wh = ParquetWarehouse(_os.path.join(workdir, "wh"))
    cust = load_table(spark, sf_dir, "customer").select(*CUST_COLS)
    wh.overwrite(
        cust,
        "customer",
        cluster_by=["c_custkey"],
        cluster_partitions=n_files,
    )
    wh.write_bloom(spark, "customer", ["c_custkey"])
    maxk = cust.agg(F.max("c_custkey")).first()[0]
    lo, hi = maxk * 2 / 5, maxk * 9 / 20
    keys = cust.filter(
        F.col("c_custkey").between(F.lit(lo), F.lit(hi))
    ).select("c_custkey")

    def _files():
        d = wh.path("customer")
        return {
            n: _os.stat(_os.path.join(d, n)).st_ino
            for n in _os.listdir(d)
            if n.endswith(".parquet")
        }

    before = _files()
    wh.delete_keys(spark, "customer", "c_custkey", keys)
    if _files() != before:
        raise AssertionError(
            "merge-on-read delete touched a data file: must be metadata-only"
        )
    res = wh.materialize_deletes(spark, "customer")
    after = _files()
    carried = sum(1 for r in before if r in after and after[r] == before[r])
    if carried == 0:
        raise AssertionError(
            "materialize rewrote every file: bloom-pruned discovery regressed"
        )
    return res["keys_applied"], carried, len(before)


def run_fold_cdc_fixture(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 16,
) -> tuple[int, int, int, int]:
    """Pending-delete FOLD through a zone-scoped CDC merge at bench
    scale (the round-12 decoupling: defer-mode GDPR + live sync on one
    table): customer stores pk-clustered with a zone map, a 5%-band key
    set deletes through the ``_deletes`` sidecar (zero data-file I/O),
    then a CDC batch re-inserts HALF that band and updates a disjoint
    narrow band while deletes are pending. The merge must fold — the
    sidecar shrinks to exactly the non-reasserted remainder, riding the
    same atomic commit — and the zone scope must still carry the
    untouched files. Benchmarked per-round so a regression to refusal,
    whole-table rewrite, or sidecar-wide rewrites shows up as a
    wall-time jump (or an assertion). Returns
    (rows_written, sidecar_remaining, files_carried, files_total)."""
    import os as _os

    from ..cdc import merge_and_write

    wh = ParquetWarehouse(_os.path.join(workdir, "wh"))
    cust = load_table(spark, sf_dir, "customer").select(*CUST_COLS)
    wh.overwrite(
        cust,
        "customer",
        cluster_by=["c_custkey"],
        cluster_partitions=n_files,
        stat_cols=["c_custkey"],
    )
    maxk = cust.agg(F.max("c_custkey")).first()[0]
    dele = cust.filter(
        (F.col("c_custkey") * 20).between(8 * maxk, 9 * maxk)
    ).select("c_custkey")
    got = wh.delete_keys(spark, "customer", "c_custkey", dele)
    reinserts = cust.filter(
        (F.col("c_custkey") * 40).between(16 * maxk, 17 * maxk)
    ).select(
        F.lit("I").alias("op"),
        *CUST_COLS,
        F.lit("f1").alias("_f"),
        F.lit(1).alias("_r"),
    )
    updates = cust.filter(
        (F.col("c_custkey") * 20).between(2 * maxk, 3 * maxk)
    ).select(
        F.lit("U").alias("op"),
        *CUST_COLS,
        F.lit("f1").alias("_f"),
        F.lit(1).alias("_r"),
    )
    n_re = reinserts.count()

    def _files():
        d = wh.path("customer")
        return {
            n: _os.stat(_os.path.join(d, n)).st_ino
            for n in _os.listdir(d)
            if n.endswith(".parquet")
        }

    before = _files()
    n = merge_and_write(
        wh,
        "customer",
        wh.read(spark, "customer"),
        reinserts.unionByName(updates),
        pks=["c_custkey"],
        version_cols=["_f", "_r"],
    )
    dm = wh.pending_deletes("customer")
    want = got["n_keys"] - n_re
    if (dm["n_keys"] if dm else 0) != want:
        raise AssertionError(
            f"fold left {dm and dm['n_keys']} pending keys, expected {want}"
        )
    after = _files()
    carried = sum(1 for r in before if r in after and after[r] == before[r])
    if carried == 0:
        raise AssertionError(
            "fold merge rewrote every file: the zone scope regressed"
        )
    return n, want, carried, len(before)


def prepare_corpus_ingest_inputs(
    spark: SparkSession,
    sf_dir: str,
    prep_dir: str,
    n_batches: int = 4,
) -> tuple[list[dict], str]:
    """One-time fixture prep for the corpus-ingest sentinel: train the
    FROZEN side inputs (NB language model, unigram LM + its 20th-pct
    logprob floor — the admission contract says corpus-relative work
    never runs per batch, so it must not be timed per run either) and
    land the documents table as ``n_batches`` parquet files. Returns
    ``(spec, landing_glob)`` for any number of timed stream runs."""
    from ..operators.lang_model import train_lang_model
    from ..operators.text_analysis import train_unigram_lm, unigram_logprob_frozen

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    model = train_lang_model(docs)
    lm = train_unigram_lm(docs.select("doc_id", "text"))
    lo = unigram_logprob_frozen(docs.select("doc_id", "text"), lm).approxQuantile(
        "logprob", [0.2], 0.0
    )[0]
    spec = [
        {"op": "quality", "min_quality": 0.4},
        {"op": "model_lang", "model": model, "lang": "en"},
        {"op": "perplexity", "lm": lm, "min_logprob": lo},
    ]
    landing = os.path.join(prep_dir, "landing")
    for i in range(n_batches):
        docs.select("doc_id", "text").filter(
            F.col("doc_id") % n_batches == i
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(landing, f"batch-{i}")
        )
    return spec, landing + "/*"


def run_corpus_ingest_fixture(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_batches: int = 4,
    spec: list[dict] | None = None,
    landing_glob: str | None = None,
) -> tuple[int, int, int]:
    """Bench-scale continuous corpus ingest (the r17 streaming surface's
    first bench sentinel, r18): ``n_batches`` document landing files
    each feed one micro-batch through the full frozen-side-input
    cleaning spec — quality gate, trained NB language model, frozen
    unigram-LM perplexity band — into a corpus table that batch 0
    creates WITH its (doc_id, _fp) bloom manifest and every later
    batch extends via the bloom-pruned reconciliation + O(batch)
    append. Wall time of THIS call tracks the per-sync cost a 100 TB
    corpus pays per landing batch (regressions back to corpus-wide
    anti-join shuffles or manifest rebuilds show up directly); the
    frozen-model training and landing-file prep live in
    ``prepare_corpus_ingest_inputs`` so bench reruns never re-time
    fixture construction (the q131 fixture-cost precedent).

    Returns ``(rows_ingested, n_batches, manifest_files, batch_timings)``
    — the last a per-batch wall split (spec / reconcile / append, with
    the append's stage/manifest/commit sub-split) so a sentinel
    regression localizes without a rerun (r19).
    """
    from .corpus_stream import start_corpus_ingest_stream

    if spec is None or landing_glob is None:
        spec, landing_glob = prepare_corpus_ingest_inputs(
            spark, sf_dir, workdir, n_batches
        )
    wh = ParquetWarehouse(os.path.join(workdir, "wh"))
    batch_timings: list[dict] = []
    q = start_corpus_ingest_stream(
        spark, landing_glob, wh, "corpus", spec,
        os.path.join(workdir, "ckpt"),
        batch_timings=batch_timings,
    )
    q.awaitTermination()
    bm = wh.bloom("corpus")
    return (
        wh.read(spark, "corpus").count(),
        n_batches,
        len(bm["files"]) if bm else 0,
        batch_timings,
    )
