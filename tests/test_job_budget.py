"""Per-query job budgets at sf0.001: the number of Spark jobs a query
launches, read from the status store. At this scale a query's cost is
its jobs, not its rows, so a budget catches a driver-side job that
creeps back in — a parquet schema inference, a catalog scan, an empty
store write — before a timing run would. A budget is the measured
count; lower it when a change removes jobs.

The stream harnesses also get a budget of OS processes started per
run. Without the native `libhadoop`, Hadoop's local file system runs
a shell command (`chmod`, `readlink`) for file operations, so every
checkpoint-log entry and state-store file can cost several forks."""

from __future__ import annotations

import pytest

from bigdata_project_spark.listings.ingest import read_listings_json, write_lake_with_quarantine
from bigdata_project_spark.registry import all_queries
from bigdata_project_spark.tables import load
from tests.landing import write_landing

BUDGETS = {
    # the near-dup clustering consumers: each min-label round is a job
    "corpus_clean_pipeline": 38,
    "corpus_keep_best_per_cluster": 41,
    "dedup_cluster_components": 35,
    "dedup_semantic_cells": 50,
    "multimodal_audio_dedup_keeper": 32,
    "multimodal_dhash_dedup_keeper": 32,
    "split_cluster_aware_assign": 33,
    "stream_countmin_incremental": 11,
    "stream_quantile_incremental": 17,
    "stream_tumbling_hourly": 2,
    # the foreachBatch streams: one store write per micro-batch
    "stream_audio_incremental_neardup": 38,
    "stream_incremental_rollup": 6,
    "stream_url_frontier_dedup": 26,
    "stream_semantic_incremental_dedup": 43,
}
# processes started per warm run: the measured count plus about 25%. A
# stream's state store writes its files per state partition, and the
# streams size those to their state (`pipeline.state_partitions`), so
# no budget grows with the core count.
PROCESS_BUDGETS = {
    "stream_countmin_incremental": 183,
    "stream_quantile_incremental": 201,
    "stream_tumbling_hourly": 72,
}
# tables whose schemas a query reads; loaded once first so that a
# budget does not depend on which test ran before it
_INPUTS = {
    "corpus_clean_pipeline": ("documents",),
    "corpus_keep_best_per_cluster": ("documents",),
    "dedup_cluster_components": ("documents",),
    "dedup_semantic_cells": ("documents", "embeddings"),
    "multimodal_audio_dedup_keeper": ("documents",),
    "multimodal_dhash_dedup_keeper": ("documents",),
    "split_cluster_aware_assign": ("documents",),
    "stream_countmin_incremental": ("documents",),
    "stream_quantile_incremental": ("lineitem",),
    "stream_tumbling_hourly": ("events",),
    "stream_audio_incremental_neardup": ("documents",),
    "stream_incremental_rollup": ("events",),
    "stream_url_frontier_dedup": ("documents",),
    "stream_semantic_incremental_dedup": ("embeddings",),
}


def _status_store(spark):
    sc = spark.sparkContext._jsc.sc()
    # the status store is fed asynchronously by the listener bus
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore()


def _jobs(spark, action) -> int:
    """Spark jobs started while `action()` ran."""

    def newest() -> int:
        jobs = _status_store(spark).jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    before = newest()
    action()
    return newest() - before


def _processes(spark, action) -> int:
    """Processes started while `action()` ran, from the `processes`
    line of /proc/stat. The counter is machine-wide: it counts every
    fork and thread creation on the machine, by any program, so the
    JVM's new pool threads and Spark's Python workers count too."""

    def forks() -> int:
        try:
            with open("/proc/stat") as f:
                return next(int(line.split()[1]) for line in f if line.startswith("processes "))
        except (OSError, StopIteration):
            pytest.skip("/proc/stat has no readable processes counter")

    before = forks()
    action()
    return forks() - before


def _stages(spark, action) -> list[tuple[int, int]]:
    """(tasks, input records) of each stage that ran while `action()`
    ran; a skipped stage, whose output was reused, did not run."""
    al = spark._jvm.java.util.ArrayList
    no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)

    def newest_first():
        # the 5-argument Spark 4.1 form: Scala default arguments do not
        # cross Py4J
        st = _status_store(spark).stageList(al(), False, False, no_quantiles, al())
        return [st.apply(i) for i in range(st.size())]

    seen = {s.stageId() for s in newest_first()}
    action()
    return [
        (s.numTasks(), s.inputRecords())
        for s in newest_first()
        if s.stageId() not in seen and s.status().toString() != "SKIPPED"
    ]


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_query_within_job_budget(spark, sf_dir, name):
    for t in _INPUTS[name]:
        load(spark, sf_dir, t)
    n = _jobs(spark, lambda: all_queries()[name](spark, sf_dir).collect())
    assert n <= BUDGETS[name], f"{name} ran {n} jobs, budget {BUDGETS[name]}"


@pytest.mark.parametrize("name", sorted(PROCESS_BUDGETS))
def test_stream_within_process_budget(spark, sf_dir, name):
    def run():
        all_queries()[name](spark, sf_dir).collect()

    budget = PROCESS_BUDGETS[name]
    run()  # warm: Python workers, schema cache, first-use classes
    # the best of three runs: a burst of block removals can grow the
    # block manager's thread pools by dozens of threads in one run
    n = min(_processes(spark, run) for _ in range(3))
    assert n <= budget, f"{name} started {n} processes, budget {budget}"


def test_second_load_launches_no_job(spark, sf_dir):
    """The parquet schema is inferred once per file version; a second
    load of the same table plans its scan without a job."""
    load(spark, sf_dir, "orders")
    assert _jobs(spark, lambda: load(spark, sf_dir, "orders")) == 0


def test_listings_etl_scans_landing_once_in_core_count_tasks(spark, tmp_path):
    """Both sinks of write_lake_with_quarantine come from one read of
    the landing zone, and that read packs its small files into at most
    one task per core. A landing-scan stage reads many records per
    task; a stage that reads the cached bronze frame reads one columnar
    batch per task."""
    cores = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # at the file source's 4 MB open cost about 32 tiny files share a
    # split, so 40 files per core plan more splits than cores; the half
    # file per core over that keeps the capped, evenly sized splits
    # from spilling into one more
    n_files = 40 * cores + cores // 2
    bronze = read_listings_json(spark, write_landing(tmp_path / "landing", n_files))
    stages = _stages(
        spark,
        lambda: write_lake_with_quarantine(
            bronze, str(tmp_path / "lake"), str(tmp_path / "quarantine"), mode="overwrite"
        ),
    )
    scans = [(tasks, rows) for tasks, rows in stages if rows > tasks]
    assert sum(rows for _, rows in scans) == n_files, scans
    assert sum(tasks for tasks, _ in scans) <= cores, scans
