"""Per-query job budgets at sf0.001: the number of Spark jobs a query
launches, read from the status store. At this scale a query's cost is
its jobs, not its rows, so a budget catches a driver-side job that
creeps back in — a parquet schema inference, a catalog scan, an empty
store write — before a timing run would. A budget is the measured
count; lower it when a change removes jobs."""

from __future__ import annotations

import pytest

from bigdata_project_spark.registry import all_queries
from bigdata_project_spark.tables import load

BUDGETS = {
    "stream_countmin_incremental": 18,
    "stream_tumbling_hourly": 2,
}
# tables whose schemas a query reads; loaded once first so that a
# budget does not depend on which test ran before it
_INPUTS = {
    "stream_countmin_incremental": ("documents",),
    "stream_tumbling_hourly": ("events",),
}


def _jobs(spark, action) -> int:
    """Spark jobs started while `action()` ran."""
    sc = spark.sparkContext._jsc.sc()

    def newest() -> int:
        # the status store is fed asynchronously by the listener bus
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    before = newest()
    action()
    return newest() - before


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_query_within_job_budget(spark, sf_dir, name):
    for t in _INPUTS[name]:
        load(spark, sf_dir, t)
    n = _jobs(spark, lambda: all_queries()[name](spark, sf_dir).collect())
    assert n <= BUDGETS[name], f"{name} ran {n} jobs, budget {BUDGETS[name]}"


def test_second_load_launches_no_job(spark, sf_dir):
    """The parquet schema is inferred once per file version; a second
    load of the same table plans its scan without a job."""
    load(spark, sf_dir, "orders")
    assert _jobs(spark, lambda: load(spark, sf_dir, "orders")) == 0
