#!/usr/bin/env python3
"""Closed-loop benchmark of the spark-graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload stream_incremental --seed 1 --seconds 9 --trace 0

One client keeps one operation in flight against one Spark session on
local[<cores>]. A run sets up (session start, registry load, input
preparation, WARM_PASSES warm-up passes, the first of which checks every
result), then runs a fixed number of timed passes: `--seconds` divided by
PASS_S, and at least MIN_PASSES. Each pass runs every operation of the
workload once, in an order drawn from the seed. Times are reported with
the host's steal time taken out (runner.HostClock).

The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones (BENCHMARK.json `end_to_end`); with
`--trace 1` timed passes alternate traced and untraced, the metrics are
the per-layer ones, and spans plus per-pass layer figures are written to
`.perfbench_run/trace-<workload>-seed<seed>.json`. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
from pathlib import Path

WORKLOAD_NAMES = ("stream_incremental", "listings_etl")
MIN_PASSES = 3
PASS_S = 3.0  # nominal time of one timed pass on 4 vCPUs (2.6 s listings_etl, 3.8 s stream_incremental)
# Passes keep speeding up for a minute or more while the JVM compiles the
# hot paths; the first passes, the steepest part, are left untimed.
WARM_PASSES = 3


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="sets the number of timed passes: seconds / PASS_S, at least MIN_PASSES")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: Path, root: Path) -> None:
    """Point every scratch location of Python, the JVM, Spark and its
    Python workers into this run's directory inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(root), os.environ.get("PYTHONPATH")) if p)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the launcher JVM that assembles the Spark driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    sys.path.insert(0, str(root))


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # string hashing feeds set and dict order in plan-building code:
        # pin it in this process (by restarting it) and in Spark's workers
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    root = Path.cwd()
    if not (root / "bigdata_project_spark" / "registry.py").is_file() or not (root / "tests" / "oracle.py").is_file():
        print("perfbench: run from the root of a spark-graft checkout "
              "(bigdata_project_spark/ and tests/oracle.py not found)", file=sys.stderr)
        return 2
    declared = json.loads((root / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
    run_dir = root / ".perfbench_run"
    work = run_dir / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    isolate(work, root)

    from perfbench.runner import HostClock, Runner, precompute_oracles, summarize_layers
    from perfbench.trace import Spans
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    spans = Spans()
    spark = None
    try:
        setup_clock = HostClock()
        with spans.span("setup"):
            with spans.span("session.get_spark") as s_session:
                from bigdata_project_spark.session import get_spark

                spark = get_spark("perfbench", cpus=str(cpus))
                spark.sparkContext.setLogLevel("ERROR")
            with spans.span("registry.load") as s_registry:
                from bigdata_project_spark.registry import _ensure_loaded

                _ensure_loaded()
            with spans.span("inputs.generate"):
                inputs = wl.prepare(work / "inputs", args.seed)
            # the checker's own work is not set-up: DuckDB answers every
            # oracle up front, and the first warm-up pass checks each result
            with spans.span("oracle.precompute") as s_oracle:
                oracle = precompute_oracles(wl, inputs)
            runner = Runner(spark, wl, inputs, args.seed, spans)
            with spans.span("warm_up"):
                runner.run_pass(0, check=True, oracle=oracle)
                for pass_no in range(1, WARM_PASSES):
                    runner.run_pass(pass_no)
        wall, unstolen = setup_clock.read()
        setup_s = (wall - (s_oracle.end - s_oracle.start)) * unstolen / wall
        setup = {
            "session.start_s": s_session.end - s_session.start,
            "registry.load_s": s_registry.end - s_registry.start,
        }

        untraced, traced = [], []
        # Every run makes the same number of passes, so that the median
        # does not depend on how many passes the host's speed lets fit in
        # the time. A traced run needs two traced passes to check that
        # counts repeat; it runs traced, untraced, traced, ... so that any
        # remaining trend cancels out of trace.overhead_s.
        n_timed = max(MIN_PASSES, round(args.seconds / PASS_S))
        for pass_no in range(WARM_PASSES, WARM_PASSES + n_timed):
            if args.trace and len(traced) <= len(untraced):
                traced.append(runner.run_pass(pass_no, traced=True))
            else:
                untraced.append(runner.run_pass(pass_no))

        print(f"perfbench: setup_s {setup_s:.3f} (wall {wall:.3f}); pass makespans_s "
              f"{[round(p['makespan_s'], 3) for p in untraced]} (wall {[round(p['wall_s'], 3) for p in untraced]}) "
              f"peak_rss_mb {[round(p['peak_rss_mb']) for p in untraced]}", file=sys.stderr)
        if args.trace:
            metrics, unstable = summarize_layers(traced, untraced, setup)
            if unstable:
                print(f"perfbench: counts differ between traced passes: {unstable}", file=sys.stderr)
            out = run_dir / f"trace-{args.workload}-seed{args.seed}.json"
            out.write_text(json.dumps({
                "workload": args.workload, "seed": args.seed, "cpus": cpus,
                "metrics": metrics, "untraced_passes": untraced,
                "traced_passes": traced, "spans": spans.to_json(),
            }, indent=1))
        else:
            makespan = statistics.median(p["makespan_s"] for p in untraced)
            metrics = {
                "setup_s": setup_s,
                "makespan_s": makespan,
                "records_per_s": inputs.records / makespan,
            }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
