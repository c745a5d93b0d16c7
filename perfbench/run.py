"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. It generates the workload's
inputs from ``--seed`` under ``perfbench/.work/``, starts the engine on
``local[min(4, nproc)]``, sets up, measures for ``--seconds``, checks
every output and prints two lines on stdout: a full report (every metric
with its sample count, the tail percentile used, the output checks) and,
last, the result object ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json
and no wrapper is installed. With ``--trace 1`` the run measures the
untraced window, then a window with the layer wrappers of tracing.py
installed between two untraced ones, and reports the per-layer metrics
plus the tracing overhead against its untraced neighbours.
Spark's logs go to stderr. Everything the run writes stays under
``perfbench/.work/`` and is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def _isolate(work: str, traced: bool) -> None:
    """Point every scratch location Spark, the JVM and Python use at
    ``work``; a traced run also keeps every job's status for the per-op
    accounting. Must run before pyspark starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 1))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    # -XX:-UsePerfData: HotSpot's perf-counter file always goes to /tmp
    java = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    args = [
        "--conf", f"spark.local.dir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", java,
    ]
    if traced:
        args += ["--conf", "spark.ui.retainedJobs=100000",
                 "--conf", "spark.ui.retainedStages=100000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(CHECKOUT, "polars_lake_spark")):
        print(f"no polars_lake_spark package in {CHECKOUT}", file=sys.stderr)
        return 2
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; have {names}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    _isolate(work, bool(args.trace))
    sys.path.insert(0, CHECKOUT)
    import workloads

    ctx = workloads.Ctx(args.seed, args.seconds, bool(args.trace), work)
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        if ctx.spark is not None:
            _stop(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["layers"] if args.trace else res["e2e"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "error_rate": res["failed"] / res["attempted"],
        **res["report"],
    }
    if args.trace:
        report["self_ms_per_op"] = res["layers"]["_self_ms"]
        # the spans themselves, one JSON object a line, kept after the run
        path = os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in res["spans"]:
                f.write(json.dumps(s.record(), default=str) + "\n")
        report["spans_file"] = os.path.relpath(path, CHECKOUT)
    print(json.dumps({"report": report}, default=str))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
