"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload dms_cdc_bulk --seed 1 --seconds 8 --trace 0

Run from the repository root. The engine package is imported from the
working directory; every input is generated from ``--seed`` into
``.perfbench/`` under it, which the run removes again (the span file of a
traced run stays there). Progress goes to stderr; the last stdout line is
``{"correct", "attempted", "failed", "metrics"}``, holding the end-to-end
metrics with ``--trace 0`` and the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import asdict

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def workloads(seconds: float) -> dict:
    """name -> callable(spark, work, seed, trace) -> result dict."""
    import corpus
    import dms

    bulk = dms.DmsWorkload(
        make_tables=lambda rng: dms.bulk_tables(rng, 0.005),
        readers=dms.bulk_readers,
    )
    wide = dms.DmsWorkload(
        make_tables=lambda rng: dms.wide_tables(rng, 16, 200, 4),
        readers=dms.wide_readers,
    )
    return {
        "dms_cdc_bulk": lambda s, w, seed, tr: dms.run(s, bulk, w, seed, seconds, tr, log),
        "dms_cdc_wide": lambda s, w, seed, tr: dms.run(s, wide, w, seed, seconds, tr, log),
        "corpus_clean": lambda s, w, seed, tr: corpus.run(s, w, seed, seconds, tr, log),
    }


def start_spark(work: str):
    """The engine's own session factory on local[nproc], with every
    scratch directory inside the run's work dir."""
    from example_dms_dataexport_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        "perfbench",
        master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run in the status tracker
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit; the JVM exits when the
    gateway's stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(SPEC) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    root = os.getcwd()
    sys.path.insert(0, HERE)
    sys.path.insert(0, root)
    # read by the engine's session module at import time
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    try:
        import example_dms_dataexport_spark  # noqa: F401
    except ImportError as e:
        log(f"engine package not importable from {root}: {e}")
        return 2
    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # no hsperfdata file in /tmp from any JVM that spark-submit starts
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    table = workloads(args.seconds)
    if args.workload not in table:
        log(f"unknown workload {args.workload!r}; have {sorted(table)}")
        return 2

    # Spark's start is left out of setup_s: it is one JVM launch per run,
    # too noisy a single sample to bound
    t0 = time.perf_counter()
    spark = start_spark(work)
    log(f"spark up in {time.perf_counter() - t0:.2f}s on local[{cpus}]")
    try:
        res = table[args.workload](spark, work, args.seed, bool(args.trace))
    finally:
        stop_spark(spark)

    if args.trace:
        unknown = sorted(set(res["layers"]) - set(names))
        if unknown:
            log(f"layer metrics missing from BENCHMARK.json: {unknown}")
            return 3
        # a layer this workload does not exercise reads 0
        values = {n: 0.0 for n in names}
        values.update(res["layers"])
        trace_file = os.path.join(root, ".perfbench", f"trace-{args.workload}-{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"layers": res["layers"],
                       "spans": [asdict(s) for s in res["spans"]]}, f)
        log(f"spans written to {trace_file}")
    else:
        values = dict(res)
        values["ok_ratio"] = 1.0 - res["failed"] / res["attempted"]
    missing = [n for n in names if n not in values]
    if missing:
        log(f"metrics not produced: {missing}")
        return 3
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
