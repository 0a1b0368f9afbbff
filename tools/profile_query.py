#!/usr/bin/env python
"""Per-query structure profile (r15): splits a registered query's
wall-clock into builder time (Python plan construction, including any
driver-side sizing actions), driver analysis time (forcing the
executed plan), and execution time (noop sink), and reports the JOB
COUNT the run submitted (AppStatusStore delta) plus the formatted-plan
byte size. This is the measurement the optimization rounds use to
attribute cost to driver pressure vs stage count vs data — at the
bench SFs the hot queries are job-count bound, so "jobs" is the
number structural changes must move.

Usage: python tools/profile_query.py QUERY [QUERY...] [--sf SF_DIR]
Each query runs once untimed (codegen/footer warm-up), then once
profiled, with caches released in between (bench.py discipline).
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _newest_job(spark) -> int:
    """Id of the newest job, -1 before the first. Job ids are dense and
    increasing, so a difference of two reads counts the jobs between
    them; the size of `jobsList` would stop growing at
    `spark.ui.retainedJobs`."""
    sc = spark.sparkContext._jsc.sc()
    # the status store is fed asynchronously by the listener bus
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def profile(spark, name: str, sf_dir: str) -> dict:
    from bigdata_project_spark.caching import release_cached
    from bigdata_project_spark.registry import REGISTRY

    spark.sparkContext.setJobDescription(f"profile:{name}")
    out: dict = {"query": name}
    for phase in ("warm", "timed"):
        jobs0 = _newest_job(spark)
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, sf_dir)
        t1 = time.perf_counter()
        qe = df._jdf.queryExecution()
        plan_txt = qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        if phase == "timed":
            out.update(
                build_s=round(t1 - t0, 3),
                analyze_s=round(t2 - t1, 3),
                exec_s=round(t3 - t2, 3),
                total_s=round(t3 - t0, 3),
                jobs=_newest_job(spark) - jobs0,
                plan_bytes=len(plan_txt),
            )
        release_cached(spark, sweep_all=True)
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--sf" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf") + 1]
        args = [a for a in args if a != sf_dir]
    from bigdata_project_spark.registry import _ensure_loaded
    from bigdata_project_spark.session import get_spark

    _ensure_loaded()
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    import json

    for name in args:
        print(json.dumps(profile(spark, name, sf_dir)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
