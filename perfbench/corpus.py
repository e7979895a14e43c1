"""The ``corpus_clean`` workload: the q38 cleaning spec through
``run_corpus_pipeline`` and one ``ann_query`` probe batch (ADC scores, no
exact rerank) per iteration,
against seeded documents and embeddings. Checked against the registry's
DuckDB oracles for q38 (the cleaned rows) and q28 (exact top-k, for recall).

The q38 oracle's last step, the recursive reachability walk that labels
each near-duplicate component with its smallest id, costs DuckDB about
25 s even on a few pairs; the check runs the oracle's SQL up to its verified
pair list and does that walk in Python (``components``) instead.
"""

from __future__ import annotations

import itertools
import os
import shutil
import time
from contextlib import nullcontext

import numpy as np

import gen
from tracer import Tracer, self_times, subtree

SPEC = [
    {"op": "quality_lang", "min_quality": 0.5, "lang": "en"},
    {"op": "exact_dedup"},
    {"op": "near_dedup", "method": "minhash", "threshold": 0.5},
]
INDEX = "emb_ivfpq"
N_DOCS, N_VECS, PROBE_EVERY, K = 300, 1000, 25, 5
SETUP_REPEATS = 5
# the pipeline still speeds up over its first few runs; four iterations put
# the median past the slowest of them
MIN_ITERS = 4
# recall@5 of the ADC-only probe batch against the exact top-5 reads 0.33 to
# 0.58 over seeds on the first baseline; the floor sits under that range
RECALL_FLOOR = 0.25


class CorpusRun:
    def __init__(self, spark, work: str, seed: int, log):
        self.spark, self.work, self.seed, self.log = spark, work, seed, log
        self.dir = os.path.join(work, "corpus")
        self.errors: list[str] = []

    def setup_once(self) -> float:
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        t0 = time.perf_counter()
        rng = np.random.default_rng(self.seed)
        gen.documents(rng, N_DOCS).to_parquet(os.path.join(self.dir, "documents.parquet"))
        gen.embeddings(rng, N_VECS).to_parquet(os.path.join(self.dir, "embeddings.parquet"))
        return time.perf_counter() - t0

    def open_inputs(self) -> None:
        from pyspark.sql import functions as F

        from example_dms_dataexport_spark.sources.warehouse import ParquetWarehouse

        self.docs = self.spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
        self.emb = self.spark.read.parquet(os.path.join(self.dir, "embeddings.parquet"))
        self.probes = self.emb.filter(F.col("vec_id") % PROBE_EVERY == 0)
        self.wh = ParquetWarehouse(os.path.join(self.dir, "wh"))

    def build_index(self) -> float:
        """Build the index: the workload's initial load."""
        from example_dms_dataexport_spark.operators import ann_index

        t0 = time.perf_counter()
        ann_index.build_ann_index(self.wh, self.emb, INDEX)
        return time.perf_counter() - t0

    def pipeline(self, stages=SPEC) -> list:
        from pyspark.sql import functions as F

        from example_dms_dataexport_spark.operators import corpus_pipeline

        out = corpus_pipeline.run_corpus_pipeline(self.spark, self.docs, stages)
        return out.select("doc_id", F.round("quality", 4).alias("quality")).collect()

    def knn(self) -> list:
        from example_dms_dataexport_spark.operators import ann_index

        return ann_index.ann_query(self.wh, self.spark, INDEX, self.probes, k=K).collect()

    def check(self, cleaned: list, knn: list) -> tuple[bool, bool]:
        """q38 rows must equal the DuckDB oracle's; the probe batch's recall
        against q28's exact top-k must reach the floor. Returns both
        verdicts."""
        import duckdb

        from example_dms_dataexport_spark.registry import load_all

        q38 = load_all()[1]["q38_cleaning_pipeline"]
        # everything up to the pair list; the walk over it happens below
        head = q38[:q38.index("edges AS (")].rstrip().rstrip(",")
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            rows = con.execute(
                f"{head}\nSELECT doc_id, round(quality, 4), NULL, NULL FROM kept"
                "\nUNION ALL SELECT NULL, NULL, id_a, id_b FROM pairs").fetchall()
            exact = con.execute(load_all()[1]["q28_knn_brute"]).fetchall()
        finally:
            con.close()
        label = components([(a, b) for d, _q, a, b in rows if d is None])
        want = sorted((int(d), float(q)) for d, q, _a, _b in rows
                      if d is not None and label.get(d, d) == d)
        got = sorted((r.doc_id, r.quality) for r in cleaned)
        bad = [(a, b) for a, b in zip(got, want)
               if a[0] != b[0] or abs(a[1] - b[1]) > 1.5e-4]
        ok_q38 = len(got) == len(want) and not bad
        if not ok_q38:
            self.errors.append(f"q38: {len(got)} rows, oracle {len(want)}, first diffs {bad[:3]}")
        truth = {(int(p), int(v)) for p, v, _s, _r in exact}
        found = {(r.probe_id, r.vec_id) for r in knn}
        self.recall = len(truth & found) / len(truth)
        self.log(f"q38 rows {len(got)} (oracle {len(want)}), q28 recall@{K} {self.recall:.3f}")
        ok_q28 = self.recall >= RECALL_FLOOR
        if not ok_q28:
            self.errors.append(f"q28 recall@{K} {self.recall:.3f} < {RECALL_FLOOR}")
        return ok_q38, ok_q28


def _rows(rows: list) -> list:
    return sorted(map(tuple, rows))


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Node -> smallest node reachable from it over undirected ``pairs``:
    the q38/q43 oracles' recursive ``walk`` + ``min(reach)``."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def run(spark, work: str, seed: int, seconds: float, trace: bool, log) -> dict:
    """Set up, one untimed warm-up pipeline run (the first runs on a cold
    JVM), the index build (the workload's initial load), then iterations
    for ``seconds`` (at least ``MIN_ITERS``). With ``trace`` one more
    iteration runs, the second one under the probes, and the spec's
    prefixes run once more at the end for the per-stage margins."""
    from probes import JobCounter, install

    r = CorpusRun(spark, work, seed, log)
    setups = [r.setup_once() for _ in range(SETUP_REPEATS)]
    sc = spark.sparkContext
    sc.setJobGroup("bench-warmup", "bench warm-up")
    r.open_inputs()
    warm = r.pipeline()
    build_s = r.build_index()
    log(f"setup {['%.2f' % s for s in setups]} index {build_s:.2f}s")
    jobs = JobCounter(sc)
    tr = Tracer()
    iters: list[dict] = []
    # the warm-up pipeline run and the first probe batch are the reference:
    # the oracles check them, and every later run and batch must repeat them
    ref_knn = None
    attempted, failed = 1, 0
    min_iters = MIN_ITERS + (1 if trace else 0)
    t_end = time.perf_counter() + seconds
    for i in itertools.count():
        if len(iters) >= min_iters and time.perf_counter() >= t_end:
            break
        on = trace and i == 1
        patch = install(tr) if on else None
        rec = {"iter": i, "traced": on}
        try:
            with tr.span("iteration", trace=f"iter-{i}") if on else nullcontext() as root:
                sc.setJobGroup(f"bench-pipe-{i}", "bench corpus pipeline")
                t0 = time.perf_counter()
                with tr.span("operators.corpus_pipeline.run") if on else nullcontext():
                    cleaned = r.pipeline()
                t1 = time.perf_counter()
                sc.setJobGroup(f"bench-knn-{i}", "bench ann probe batch")
                with tr.span("operators.ann_index.probe_batch") if on else nullcontext():
                    knn = r.knn()
                t2 = time.perf_counter()
        finally:
            if patch:
                patch.restore()
        rec.update(pipe=t1 - t0, knn=t2 - t1, wall=t2 - t0, root=root)
        if on:
            rec["pipe_jobs"] = len(jobs.new_jobs([f"bench-pipe-{i}"]))
            rec["knn_jobs"] = len(jobs.new_jobs([f"bench-knn-{i}"]))
        ref_knn = knn if ref_knn is None else ref_knn
        attempted += 2
        bad = (_rows(cleaned) != _rows(warm)) + (_rows(knn) != _rows(ref_knn))
        if bad:
            failed += bad
            r.errors.append(f"iteration {i}: {bad} outputs differ from the reference")
        log(f"iter {i}: pipeline {rec['pipe']:.2f}s knn {rec['knn']:.2f}s"
            f"{' traced' if on else ''}")
        iters.append(rec)

    ok_q38, ok_q28 = r.check(warm, ref_knn)
    failed += (not ok_q38) + (not ok_q28)
    plain = [x for x in iters if not x["traced"]]
    live = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(r.wh.path(INDEX)) for f in fs)
    nbytes = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(r.wh.root) for f in fs)
    for e in r.errors:
        log(f"CHECK FAILED: {e}")
    out = {
        "correct": not r.errors,
        "attempted": attempted,
        "failed": failed,
        "setup_s": float(np.median(setups)),
        "full_load_s": build_s,
        "cycle_p50_s": float(np.median([x["wall"] for x in plain])),
        "rows_per_s": N_DOCS / float(np.median([x["pipe"] for x in plain])),
        "query_p50_s": float(np.median([x["knn"] for x in plain])),
        "stored_mb": nbytes / 1e6,
        "live_files": live,
    }
    if trace:
        traced = [x for x in iters if x["traced"]]
        marginal = {}
        prev = 0.0
        for k, st in enumerate(SPEC, 1):
            t0 = time.perf_counter()
            r.pipeline(SPEC[:k])
            t = time.perf_counter() - t0
            marginal[f"operators.corpus_pipeline.{st['op']}.marginal_s"] = t - prev
            prev = t
        selfs = self_times(tr.spans)
        n = len(traced)
        trees = [subtree(tr.spans, x["root"]) for x in traced]

        def self_s(name):
            return sum(selfs[s.sid] for t in trees for s in t if s.name == name) / n

        out["layers"] = {
            **marginal,
            "operators.corpus_pipeline.run_corpus_pipeline.calls":
                tr.counters["operators.corpus_pipeline.run_corpus_pipeline.calls"] / n,
            "operators.corpus_pipeline.run.self_s": self_s("operators.corpus_pipeline.run"),
            "operators.ann_index.probe_batch.self_s": self_s("operators.ann_index.probe_batch"),
            "operators.ann_index.ann_query.self_s": self_s("operators.ann_index.ann_query"),
            "operators.ann_index.ann_query.jobs": sum(x["knn_jobs"] for x in traced) / n,
            "spark.jobs_per_iteration": sum(x["pipe_jobs"] for x in traced) / n,
            "trace.overhead_ratio": float(np.median([x["wall"] for x in traced]))
            / float(np.median([x["wall"] for x in plain])),
        }
        out["spans"] = tr.spans
    return out
