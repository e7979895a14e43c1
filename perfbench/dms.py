"""The DMS sync-cycle workloads: ``dms_cdc_bulk`` and ``dms_cdc_wide``.

Both land a seeded DMS tree, register it through discovery, run the full
load and then a fixed number of sync cycles. A cycle lands one change file
per changing table (untimed), then runs the planner and the task-DAG runner
with a group commit and the maintenance pass (timed), then the reader set on
the group snapshot (timed separately). The untimed checks compare every
reader result and, at the end, every target table with the generator's own
expected state.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd

import gen
from tracer import Tracer, self_times, subtree, worker_summed

SCHEMA = "erp"
GROUP = "erp_cycle"
TASK_COUNT = 5  # run_migration's default: the reference's five child tasks
SETUP_REPEATS = 5
# timed cycles per run: fixed, so the final warehouse (and so stored_mb and
# live_files) does not depend on how fast the host runs
CYCLES = 2
# reader sets after each timed cycle: they repeat for --seconds / CYCLES,
# and at least this often, because one set is short and its run-to-run
# spread needs more samples than the cycles give. Reads change no state.
MIN_READS = 3

MUTABLE = {
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_linestatus"],
    "orders": ["o_orderstatus", "o_totalprice", "o_orderpriority"],
    "customer": ["c_acctbal", "c_mktsegment"],
    "part": ["p_size", "p_retailprice"],
    "supplier": ["s_acctbal"],
}


def zone_layout(kind: str, files: int) -> dict:
    """Range-clustered on the primary key with a zone map over it."""
    pk = gen.TPCH[kind][1][0]
    return {"cluster_by": [pk], "cluster_partitions": files, "stat_cols": [pk]}


@dataclass
class TableSpec:
    name: str
    kind: str
    layout: dict
    rows: pd.DataFrame
    changes: int  # change rows per cycle; 0 = never changes


@dataclass
class DmsWorkload:
    make_tables: Callable  # (rng) -> list[TableSpec]
    readers: Callable  # (states, rng) -> list of (label, frames -> value, expected)


# the bulk workload's changing tables: one per merge scope (partition,
# zone-mapped files, flat scan); the other four only take the full load
BULK_CHANGING = ("lineitem", "orders", "part")


def bulk_tables(rng: np.random.Generator, sf: float) -> list[TableSpec]:
    t = gen.tpch_tables(rng, sf)
    layouts = {
        # hive-partitioned on a primary-key column: PK-stable by definition
        "lineitem": {"partition_by": ["l_linenumber"]},
        "orders": zone_layout("orders", 8),
        "customer": zone_layout("customer", 4),
    }
    return [
        TableSpec(k, k, layouts.get(k, {}), t[k],
                  len(t[k]) // 100 if k in BULK_CHANGING else 0)
        for k in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
    ]


def wide_tables(rng: np.random.Generator, n_tables: int, rows: int, changes: int) -> list[TableSpec]:
    """``n_tables`` small tables cut from sf0.01-shaped sources: four row
    shapes in turn, alternately flat and zone-mapped."""
    src = gen.tpch_tables(rng, 0.01)
    kinds = ["customer", "orders", "part", "supplier"]
    out = []
    for i in range(n_tables):
        kind = kinds[i % 4]
        lo = int(rng.integers(0, max(1, len(src[kind]) - rows)))
        part = src[kind].iloc[lo:lo + rows].reset_index(drop=True)
        layout = zone_layout(kind, 2) if (i // 4) % 2 else {}
        out.append(TableSpec(f"{kind}_{i:02d}", kind, layout, part, changes))
    return out


def spark_schema(kind: str):
    from pyspark.sql.types import (
        DateType, DoubleType, IntegerType, LongType, StringType, StructField,
        StructType,
    )

    types = {"long": LongType(), "int": IntegerType(), "double": DoubleType(),
             "str": StringType(), "date": DateType()}
    return StructType([StructField(c, types[k]) for c, k in gen.TPCH[kind][0]])


class DmsRun:
    """One benchmark run of a DMS workload in ``work``."""

    def __init__(self, spark, wl: DmsWorkload, work: str, seed: int):
        self.spark, self.wl, self.work, self.seed = spark, wl, work, seed
        self.stage = os.path.join(work, "stage")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # ------------------------------------------------------------------ setup
    def setup_once(self):
        """Generate, land and discover; returns the wall seconds."""
        from example_dms_dataexport_spark.discover import fill_dms_metadata
        from example_dms_dataexport_spark.metadata import MetadataStore
        from example_dms_dataexport_spark.sources.warehouse import ParquetWarehouse

        for d in ("stage", "wh", "meta"):
            shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)
        t0 = time.perf_counter()
        self.rng = np.random.default_rng(self.seed)
        specs = self.wl.make_tables(self.rng)
        # foreign-key ranges for generated rows: the bulk tables' own sizes
        sizes = gen.tpch_sizes(0.01) | {s.kind: len(s.rows) for s in specs if s.name == s.kind}
        self.sources = {}
        for sp in specs:
            gen.write_csv(os.path.join(self.stage, SCHEMA, sp.name, "LOAD00000001.csv"), sp.rows)
            self.sources[sp.name] = gen.TableSource(
                sp.name, sp.kind, sp.rows, MUTABLE.get(sp.kind, []),
                sizes,
            )
        self.specs = {sp.name: sp for sp in specs}
        self.store = MetadataStore(os.path.join(self.work, "meta", "dms_metadata.json"))
        self.wh = ParquetWarehouse(os.path.join(self.work, "wh"))
        n = fill_dms_metadata(
            self.spark, self.store, self.stage,
            primary_keys={sp.name: gen.TPCH[sp.kind][1] for sp in specs},
            additional_config={
                sp.name: json.dumps({"layout": sp.layout}) for sp in specs
            },
        )
        if n != len(specs):
            raise RuntimeError(f"discovery registered {n} of {len(specs)} tables")
        self.schemas = {f"{SCHEMA}/{sp.name}": spark_schema(sp.kind) for sp in specs}
        return time.perf_counter() - t0

    # ------------------------------------------------------------------ sync
    def sync(self):
        """One run_migration with a group commit and the maintenance pass
        (run_migration takes no ``group``, so this is its two calls)."""
        from example_dms_dataexport_spark import runner
        from example_dms_dataexport_spark.maintenance import MaintenancePolicy

        items = runner.prepare_migration_queue(self.spark, self.store, task_count=TASK_COUNT)
        res = runner.run_queue(
            self.spark, self.store, self.wh, items, self.schemas, TASK_COUNT,
            group=GROUP, maintenance=MaintenancePolicy(),
        )
        queued = sum(it.load_type != "N" for it in items)
        self.attempted += queued
        self.failed += len(res.errors)
        self.errors += [f"{p}: {e}" for p, e in res.errors]
        return items, res

    def land_cycle(self, cycle: int, extra_file: bool = False) -> int:
        """Land one change file per changing table (two when
        ``extra_file``: the second re-updates a key the first inserted, so
        a later file must win inside one merge). Returns change rows."""
        n = 0
        for name, sp in self.specs.items():
            if not sp.changes:
                continue
            src = self.sources[name]
            ch = src.make_changes(self.rng, sp.changes)
            src.land(self.stage, SCHEMA, gen.cdc_file_name(cycle, 1), ch)
            n += len(ch)
            if extra_file:
                redo = src.reupdate(self.rng, ch[ch["op"] == "I"].iloc[:1].drop(columns="op"))
                src.land(self.stage, SCHEMA, gen.cdc_file_name(cycle, 2), redo)
                n += len(redo)
        return n

    # --------------------------------------------------------------- readers
    def read_set(self, cycle: int):
        """The reader set on the group snapshot; returns wall seconds."""
        self.spark.sparkContext.setJobGroup(f"bench-read-{cycle}", "bench reader set")
        t0 = time.perf_counter()
        frames = self.wh.read_group(self.spark, GROUP)
        got = [(label, thunk(frames)) for label, thunk, _ in self._readers]
        wall = time.perf_counter() - t0
        self.attempted += len(got)
        for (label, value), (_, _, want) in zip(got, self._readers):
            if not _same(value, want):
                self.failed += 1
                self.errors.append(f"cycle {cycle} reader {label}: {value!r} != {want!r}")
        return wall

    def plan_readers(self):
        self._readers = self.wl.readers(
            {n: s.state for n, s in self.sources.items()}, self.rng)

    # ----------------------------------------------------------------- check
    def check_tables(self) -> bool:
        ok = True
        for name, src in self.sources.items():
            self.attempted += 1
            t = f"{SCHEMA}_{name}"
            got = self.wh.read(self.spark, t).toPandas()
            spec = gen.TPCH[src.kind][0]
            want = gen.expected_from_log(self.specs[name].rows, src.log, src.pks)
            if gen.digest(got, spec) != gen.digest(want, spec) or \
                    gen.digest(want, spec) != gen.digest(src.state, spec):
                self.failed += 1
                self.errors.append(f"table {t}: {len(got)} rows, expected {len(want)}")
                ok = False
        return ok

    def warehouse_size(self) -> tuple[float, int]:
        """(MB under the warehouse root, each file once; live parquet data
        files across the target tables)."""
        seen, nbytes = set(), 0
        for dirpath, _d, files in os.walk(self.wh.root):
            for fn in files:
                st = os.stat(os.path.join(dirpath, fn))
                if st.st_ino not in seen:
                    seen.add(st.st_ino)
                    nbytes += st.st_size
        live = 0
        for name in self.specs:
            for dirpath, dirs, files in os.walk(self.wh.path(f"{SCHEMA}_{name}")):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                live += sum(f.endswith(".parquet") for f in files)
        return nbytes / 1e6, live


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return abs(a - b) <= 1e-6 * max(1.0, abs(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


# ---------------------------------------------------------------------------
# reader sets: each entry is (label, frames -> value, expected value)
# ---------------------------------------------------------------------------


def _rows_of(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def _expected_rows(state: pd.DataFrame, spec, mask) -> list:
    from datetime import date

    sub = gen.canonical(state[mask], spec)
    out = []
    for rec in sub.itertuples(index=False):
        row = []
        for (c, kind), v in zip(spec, rec):
            row.append(date.fromisoformat(v) if kind == "date" else v)
        out.append(tuple(row))
    return sorted(out)


def _lookup(table: str, kind: str, key: int, state: pd.DataFrame):
    from pyspark.sql import functions as F

    pk = gen.TPCH[kind][1][0]
    spec = gen.TPCH[kind][0]
    return (
        f"{table}[{key}]",
        lambda fr: _rows_of(fr[f"{SCHEMA}_{table}"].filter(F.col(pk) == key)),
        _expected_rows(state, spec, state[pk] == key),
    )


def bulk_readers(states: dict, rng) -> list:
    from pyspark.sql import functions as F

    li, o, c = states["lineitem"], states["orders"], states["customer"]
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey").merge(
        c, left_on="o_custkey", right_on="c_custkey")
    j = j.assign(rev=j.l_extendedprice * (1 - j.l_discount))
    agg = j.groupby("c_mktsegment").agg(revenue=("rev", "sum"), n=("rev", "size"))
    want = sorted((s, float(r.revenue), int(r.n)) for s, r in agg.iterrows())

    def revenue(fr):
        li_, o_, c_ = (fr[f"{SCHEMA}_{t}"] for t in ("lineitem", "orders", "customer"))
        rows = (
            li_.join(o_, li_.l_orderkey == o_.o_orderkey)
            .join(c_, o_.o_custkey == c_.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
                 F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return sorted((r.c_mktsegment, r.revenue, r.n) for r in rows)

    out = [("revenue_by_segment", revenue, want)]
    for table, kind in (("orders", "orders"), ("customer", "customer")):
        key = rng.choice(states[table][gen.TPCH[kind][1][0]].to_numpy())
        out.append(_lookup(table, kind, int(key), states[table]))
    return out


def wide_readers(states: dict, rng) -> list:
    names = sorted(states)
    out = []
    for name in [names[int(i)] for i in rng.choice(len(names), 4, replace=False)]:
        kind = name.rsplit("_", 1)[0]
        keys = states[name][gen.TPCH[kind][1][0]].to_numpy()
        out.append(_lookup(name, kind, int(rng.choice(keys)), states[name]))
    return out


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def run(spark, wl: DmsWorkload, work: str, seed: int, seconds: float, trace: bool, log) -> dict:
    """Set up, full load, one untimed warm-up cycle (the first cycle runs
    on a partly cold JVM), then ``CYCLES`` timed cycles, each followed by
    reader sets for ``seconds / CYCLES``, then the checks. With ``trace``
    one more timed cycle runs, under the probes, between the untraced
    ones; the untraced ones give the end-to-end numbers and the overhead
    ratio's base."""
    from probes import JobCounter, install, tree_diff, tree_files

    r = DmsRun(spark, wl, work, seed)
    setups = [r.setup_once() for _ in range(SETUP_REPEATS)]
    log(f"setup {['%.2f' % s for s in setups]}")
    sc = spark.sparkContext
    jobs = JobCounter(sc)
    tr = Tracer()
    load_groups = [f"{SCHEMA}/{n}" for n in r.specs]

    def under_probes(fn, trace_id):
        """Run ``fn`` as the root span ``trace_id`` with the probes in;
        returns (result, root span, counter deltas)."""
        before = tr.counters.copy()
        patch = install(tr)
        try:
            with tr.span(trace_id.split("-")[0], trace=trace_id) as root:
                out = fn()
        finally:
            patch.restore()
        return out, root, tr.counters - before

    sc.setJobGroup("bench-full-load", "bench full load")
    t0 = time.perf_counter()
    if trace:
        (items, _), fl_root, fl_counts = under_probes(r.sync, "full_load")
    else:
        items, _ = r.sync()
    full_load_s = time.perf_counter() - t0
    log(f"full load {full_load_s:.2f}s, {len(items)} items")

    cycles: list[dict] = []
    # cycle 0 is the warm-up; with ``trace`` cycle 2 is the traced one
    for c in range(1 + CYCLES + (1 if trace else 0)):
        timed = c > 0
        on = trace and c == 2
        rows = r.land_cycle(c, extra_file=(c == 0))
        r.plan_readers()
        rec = {"cycle": c, "timed": timed, "traced": on, "change_rows": rows}
        jobs.new_jobs(load_groups + [f"bench-cycle-{c}"])
        if on:
            stage_files = sum(len(f) for _, _, f in os.walk(r.stage))
            before = tree_files(r.wh.root)
        sc.setJobGroup(f"bench-cycle-{c}", "bench sync cycle")
        t0 = time.perf_counter()
        if on:
            (items, res), root, counts = under_probes(r.sync, f"cycle-{c}")
        else:
            items, res = r.sync()
        rec["wall"] = time.perf_counter() - t0
        if on:
            load_jobs = jobs.new_jobs(load_groups)
            rec.update(
                root=root, counts=counts, stage_files=stage_files,
                load_jobs=len(load_jobs), load_tasks=jobs.tasks(load_jobs),
                loads=len(res.processed),
                cycle_jobs=len(load_jobs) + len(jobs.new_jobs([f"bench-cycle-{c}"])),
                **tree_diff(before, tree_files(r.wh.root)),
            )
        t_end = time.perf_counter() + seconds / CYCLES
        if on:
            first_read, rec["reader_root"], _ = under_probes(
                lambda: r.read_set(c), f"readers-{c}")
        else:
            first_read = r.read_set(c)
        walls = [first_read]
        while timed and (len(walls) < MIN_READS or time.perf_counter() < t_end):
            walls.append(r.read_set(c))
        rec["query_walls"] = walls
        log(f"cycle {c}: {rec['wall']:.2f}s, readers "
            f"{' '.join('%.2f' % w for w in walls)}s, "
            f"{rows} change rows, {len(items)} items{' traced' if on else ''}")
        cycles.append(rec)

    # a re-run with no new files must plan nothing and change nothing
    items, _ = r.sync()
    r.attempted += 1
    if any(it.load_type != "N" for it in items):
        r.failed += 1
        r.errors.append(f"re-run with no new files planned {len(items)} items")
    correct = r.check_tables() and not r.errors
    mb, live = r.warehouse_size()
    for e in r.errors[:10]:
        log(f"CHECK FAILED: {e}")

    plain = [x for x in cycles if x["timed"] and not x["traced"]]
    out = {
        "correct": correct,
        "attempted": r.attempted,
        "failed": r.failed,
        "setup_s": float(np.median(setups)),
        "full_load_s": full_load_s,
        "cycle_p50_s": float(np.median([x["wall"] for x in plain])),
        "rows_per_s": sum(x["change_rows"] for x in plain) / sum(x["wall"] for x in plain),
        "query_p50_s": float(np.median([w for x in plain for w in x["query_walls"]])),
        "stored_mb": mb,
        "live_files": live,
    }
    if trace:
        out["layers"] = layer_metrics(
            tr, [x for x in cycles if x["traced"]], plain, fl_root, fl_counts)
        out["spans"] = tr.spans
    return out


def layer_metrics(tr: Tracer, traced: list[dict], plain: list[dict], fl_root, fl_counts) -> dict:
    """Per-layer numbers: each a mean per traced cycle, except the
    ``full_load.*`` pair, which come from the traced full load."""
    n = len(traced)
    selfs = self_times(tr.spans)
    cyc = [subtree(tr.spans, x["root"]) for x in traced]
    reads = [subtree(tr.spans, x["reader_root"]) for x in traced]

    def self_s(name, trees=cyc):
        return sum(selfs[s.sid] for t in trees for s in t if s.name == name) / n

    def calls(name):
        return sum(s.name == name for t in cyc for s in t) / n

    def counted(name):
        return sum(x["counts"][name] for x in traced) / n

    def per_cycle(key):
        return sum(x[key] for x in traced) / n

    # runner: worker threads' item spans against the pool drains' capacity
    busy = wait = capacity = 0.0
    for tree in cyc:
        for d in (s for s in tree if s.name == "runner.drain"):
            items = [s for s in tree if s.parent == d.sid]
            capacity += (d.end - d.start) * TASK_COUNT
            busy += sum(s.end - s.start for s in items)
            wait += sum(s.start - d.start for s in items)
    loads = max(1, sum(x["loads"] for x in traced))
    fl_tree = subtree(tr.spans, fl_root)
    fl_spans = [s for s in fl_tree if s.name == "full_load.full_load"]
    fl_time = sum(s.end - s.start for s in fl_spans)
    worker_sum = sum(worker_summed(tr.spans, x["root"]) for x in traced)
    self_sum = sum(selfs[s.sid] for t in cyc for s in t)
    return {
        "listing.list_stage.calls": calls("listing.list_stage"),
        "listing.list_stage.self_s": self_s("listing.list_stage"),
        "listing.list_stage.files_walked": sum(
            x["stage_files"] * sum(s.name == "listing.list_stage" for s in t)
            for x, t in zip(traced, cyc)) / n,
        "planner.prepare_migration_queue.self_s": self_s("planner.prepare_migration_queue"),
        "planner.items_planned": counted("planner.items_planned"),
        "metadata.update_watermarks.calls": calls("metadata.update_watermarks"),
        "metadata.bytes_flushed": counted("metadata.bytes_flushed"),
        "runner.worker_busy_ratio": busy / capacity if capacity else 0.0,
        "runner.queue_wait_s": wait / n,
        "runner.errors": counted("runner.errors"),
        "spark.jobs_per_load": sum(x["load_jobs"] for x in traced) / loads,
        "spark.tasks_per_load": sum(x["load_tasks"] for x in traced) / loads,
        "spark.jobs_per_cycle": per_cycle("cycle_jobs"),
        "full_load.full_load.self_s": sum(selfs[s.sid] for s in fl_spans),
        "full_load.rows_per_s": fl_counts["full_load.rows"] / fl_time if fl_time else 0.0,
        "sources.stage.files_read": counted("sources.stage.files_read"),
        "sources.stage.bytes_read": counted("sources.stage.bytes_read"),
        "cdc.incremental_load.self_s": self_s("cdc.incremental_load"),
        "cdc.incremental_load.noop_calls": counted("cdc.incremental_load.noop_calls"),
        "cdc.merge_and_write.self_s": self_s("cdc.merge_and_write"),
        "cdc.scope.partition": counted("cdc.scope.partition"),
        "cdc.scope.files": counted("cdc.scope.files"),
        "cdc.scope.full": counted("cdc.scope.full"),
        "cdc.rows_written_per_change_row": sum(x["counts"]["cdc.rows_written"] for x in traced)
        / sum(x["change_rows"] for x in traced),
        **{f"sources.warehouse.{m}.self_s": self_s(f"sources.warehouse.{m}")
           for m in ("read", "replace_files", "replace_partitions", "overwrite",
                     "commit_group_linked")},
        "sources.warehouse.read_group.self_s": self_s("sources.warehouse.read_group", reads),
        "sources.warehouse.files_written": per_cycle("files_written"),
        "sources.warehouse.files_linked": per_cycle("files_linked"),
        "sources.warehouse.bytes_written": per_cycle("bytes_written"),
        "maintenance.run_maintenance.self_s": self_s("maintenance.run_maintenance"),
        "maintenance.actions": counted("maintenance.actions"),
        "trace.overhead_ratio": float(np.median([x["wall"] for x in traced]))
        / float(np.median([x["wall"] for x in plain])),
        "trace.cycle_worker_summed_s": worker_sum / n,
        # 0 when the self times close on the worker-summed time, as they must
        # when spans nest; a tracer that loses or overlaps spans reads above 0
        "trace.self_time_closure_error": abs(1.0 - self_sum / worker_sum) if worker_sum else 1.0,
    }
