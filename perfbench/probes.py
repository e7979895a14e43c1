"""The engine-facing half of the tracer: which functions get wrapped, what
each wrapper counts, and the Spark job/task counts read from the status
tracker by job group.

Everything is installed from here by attribute swap and removed again by
``Patcher.restore``; the engine runs unmodified when no probe is installed.
"""

from __future__ import annotations

import os

from tracer import Patcher, Tracer

WAREHOUSE_SPANS = (
    "read", "replace_files", "replace_partitions", "overwrite",
    "commit_group_linked", "read_group",
)
# which warehouse commit ran under cdc.merge_and_write names the merge scope
SCOPE_OF_COMMIT = {
    "replace_partitions": "partition", "replace_files": "files", "overwrite": "full",
}


def _local(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


def install(tr: Tracer) -> Patcher:
    """Wrap the DMS pipeline's and the corpus operators' public functions
    where their callers look them up. Returns the patcher to undo it."""
    from concurrent.futures import ThreadPoolExecutor

    from example_dms_dataexport_spark import (
        cdc, discover, listing, maintenance, planner, runner,
    )
    from example_dms_dataexport_spark import full_load as full_load_mod
    from example_dms_dataexport_spark.metadata import MetadataStore
    from example_dms_dataexport_spark.operators import ann_index, corpus_pipeline
    from example_dms_dataexport_spark.sources.warehouse import ParquetWarehouse

    p = Patcher()

    list_stage = tr.timed("listing.list_stage", listing.list_stage)
    for mod in (planner, cdc, full_load_mod, discover):
        p.set(mod, "list_stage", list_stage)

    def stage_read(out, args, kwargs):
        files = kwargs.get("files", args[1] if len(args) > 1 else [])
        tr.count("sources.stage.files_read", len(files))
        tr.count("sources.stage.bytes_read",
                 sum(os.path.getsize(_local(f)) for f in files))

    for mod in (cdc, full_load_mod):
        p.set(mod, "read_stage",
              tr.counted("sources.stage.read_stage", mod.read_stage, stage_read))
    p.set(cdc, "apply_changes", tr.counted("merge.apply_changes", cdc.apply_changes))

    def inc_done(msg, args, kwargs):
        if msg.startswith("No files"):
            tr.count("cdc.incremental_load.noop_calls")
        elif msg.startswith("Rows affected: "):
            tr.count("cdc.rows_written", int(msg[len("Rows affected: "):].rstrip(".")))

    p.set(runner, "incremental_load",
          tr.timed("cdc.incremental_load", runner.incremental_load, inc_done))
    p.set(cdc, "merge_and_write", tr.timed("cdc.merge_and_write", cdc.merge_and_write))
    p.set(runner, "full_load", tr.timed(
        "full_load.full_load", runner.full_load,
        lambda n, a, k: tr.count("full_load.rows", n)))
    p.set(runner, "prepare_migration_queue", tr.timed(
        "planner.prepare_migration_queue", runner.prepare_migration_queue,
        lambda items, a, k: tr.count("planner.items_planned", len(items))))
    p.set(runner, "run_queue", tr.timed(
        "runner.run_queue", runner.run_queue,
        lambda res, a, k: tr.count("runner.errors", len(res.errors))))

    class DrainSpanPool(ThreadPoolExecutor):
        """The runner's worker pool, with its drain as a fan-out span: the
        workers' item spans become its children."""

        def __enter__(self):
            self._span = tr.span("runner.drain", fanout=True)
            self._span.__enter__()
            return super().__enter__()

        def __exit__(self, *exc):
            try:
                return super().__exit__(*exc)
            finally:
                self._span.__exit__(None, None, None)

    p.set(runner, "ThreadPoolExecutor", DrainSpanPool)
    p.set(maintenance, "run_maintenance", tr.timed(
        "maintenance.run_maintenance", maintenance.run_maintenance,
        lambda recs, a, k: tr.count(
            "maintenance.actions",
            sum(r["action"] not in ("none",) for r in recs))))

    for name in WAREHOUSE_SPANS:
        fn = ParquetWarehouse.__dict__[name]
        scope = SCOPE_OF_COMMIT.get(name)

        def after(out, args, kwargs, scope=scope):
            if scope and tr.active("cdc.merge_and_write"):
                tr.count(f"cdc.scope.{scope}")

        p.set(ParquetWarehouse, name,
              tr.timed(f"sources.warehouse.{name}", fn, after))

    def flushed(out, args, kwargs):
        tr.count("metadata.bytes_flushed", os.path.getsize(args[0].path))

    for name in ("update_watermarks", "register", "update_column_order"):
        p.set(MetadataStore, name, tr.timed(
            f"metadata.{name}", MetadataStore.__dict__[name], flushed))

    p.set(ann_index, "ann_query",
          tr.timed("operators.ann_index.ann_query", ann_index.ann_query))
    p.set(corpus_pipeline, "run_corpus_pipeline", tr.counted(
        "operators.corpus_pipeline.run_corpus_pipeline",
        corpus_pipeline.run_corpus_pipeline))
    return p


class JobCounter:
    """Spark jobs and tasks per job group, from the status tracker. Groups
    are reused across cycles (the runner names them by ``full_path``), so
    each call returns only jobs not seen before."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.seen: set[int] = set()

    def new_jobs(self, groups) -> list[int]:
        st = self.sc.statusTracker()
        ids = set()
        for g in groups:
            ids.update(st.getJobIdsForGroup(g))
        new = sorted(ids - self.seen)
        self.seen.update(new)
        return new

    def tasks(self, job_ids) -> int:
        st = self.sc.statusTracker()
        n = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                s = st.getStageInfo(sid)
                n += s.numTasks if s else 0
        return n


def tree_files(root: str) -> dict[str, tuple[tuple[int, int], int]]:
    """Parquet data file path -> (identity, size) under ``root``. The
    identity is (inode, mtime): hard links share it, while a new file that
    reuses a freed inode number gets a fresh mtime."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                out[p] = ((st.st_ino, st.st_mtime_ns), st.st_size)
    return out


def tree_diff(before: dict, after: dict) -> dict[str, int]:
    """Files written, files hard-linked and bytes written between two
    snapshots. A new path whose file existed before is a link; of several
    new paths sharing a new file, one was written and the rest linked."""
    old_inodes = {ino for ino, _ in before.values()}
    written = linked = nbytes = 0
    seen_new: set[int] = set()
    for path, (ino, size) in after.items():
        if before.get(path, (None,))[0] == ino:
            continue
        if ino in old_inodes or ino in seen_new:
            linked += 1
        else:
            seen_new.add(ino)
            written += 1
            nbytes += size
    return {"files_written": written, "files_linked": linked, "bytes_written": nbytes}
