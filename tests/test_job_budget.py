"""Per-query job budgets at sf0.001: the number of Spark jobs a query
launches, read from the status store. At this scale a query's cost is
its jobs, not its rows, so a budget catches a driver-side job that
creeps back in — a parquet schema inference, a catalog scan, an empty
store write — before a timing run would. A budget is the measured
count; lower it when a change removes jobs.

The stream harnesses and the listings ETL also get a budget of OS
processes started per run. Hadoop's stock local file system, without
the native `libhadoop`, runs a `chmod` process for every file and
directory it creates. The session's own file system
(`bigdata_project_spark/jvm/LocalFs.java`) sets those modes in the
JVM, so a budget catches a file write that forks again, or a shell-out
that creeps back in elsewhere."""

from __future__ import annotations

import os
import stat

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
    "dedup_semantic_cells": 48,
    "multimodal_audio_dedup_keeper": 32,
    "multimodal_dhash_dedup_keeper": 32,
    "split_cluster_aware_assign": 33,
    # the other near-dup pair consumers (operators/nearpairs.py)
    "dedup_containment_pairs": 7,
    "dedup_lsh_band_tuning": 21,
    "dedup_minhash_estimate_error": 16,
    "dedup_minhash_lsh": 12,
    "dedup_minhash_lsh_fast": 12,
    "dedup_ngram_jaccard": 7,
    "graph_triangle_stats": 25,
    "qa_split_leakage": 12,
    "stream_countmin_incremental": 11,
    "stream_quantile_incremental": 17,
    "stream_tumbling_hourly": 2,
    # the foreachBatch streams: one store write per micro-batch
    "stream_audio_incremental_neardup": 38,
    "stream_incremental_rollup": 6,
    "stream_url_frontier_dedup": 26,
    "stream_semantic_incremental_dedup": 43,
    # the span-excision consumers (operators/spans.py)
    "contamination_decontam_rewrite": 11,
    "dedup_exact_substring_spans": 6,
    "dedup_selfrepeat_rewrite": 8,
    "dedup_selfrepeat_substring_spans": 6,
    "dedup_substring_rewrite": 8,
    # the recall@k consumers (operators/recall.py); sim_truncated_dim_recall
    # has no budget, as one commit runs it in 6 or 8 jobs
    "sim_ivfpq_nprobe_curve": 30,
    "sim_recall_at_k": 12,
    "sim_recall_dim_curve": 8,
    "sim_recall_graph_at_k": 75,
    "sim_recall_ivf2_at_k": 12,
    "sim_recall_ivf_trained_at_k": 38,
    "sim_recall_ivfpq_at_k": 24,
    "sim_recall_ivfpq_nprobe2_at_k": 27,
    "sim_recall_ivfpq_rerank_at_k": 27,
    "sim_recall_ivfpq_residual_at_k": 28,
    "sim_recall_ivfpq_residual_rerank_at_k": 33,
    "sim_recall_ivfpq_trained_at_k": 52,
    "sim_recall_multiprobe": 21,
    "sim_recall_pq_at_k": 18,
    "sim_recall_pq_rerank_at_k": 21,
    # the hyperplane-LSH consumers (operators/hyperplane.py)
    "dedup_embedding_cosine": 4,
    "dedup_semantic_incremental": 14,
    "sim_ann_lsh_banded": 8,
    "sim_ann_lsh_multiprobe": 8,
}
# processes started per warm run (`_processes`): the measured count
# plus about 25%, at 4 and 8 cores alike. Through Hadoop's stock local
# file system the three streams started 132, 130 and 53.
PROCESS_BUDGETS = {
    "stream_countmin_incremental": 10,
    "stream_quantile_incremental": 8,
    "stream_tumbling_hourly": 4,
}
# one write_lake_with_quarantine pass over _ETL_FILES landing files:
# measured 0, and 62 through the stock file system
_ETL_FILES = 40
ETL_PROCESS_BUDGET = 2
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
    "dedup_containment_pairs": ("documents",),
    "dedup_lsh_band_tuning": ("documents",),
    "dedup_minhash_estimate_error": ("documents",),
    "dedup_minhash_lsh": ("documents",),
    "dedup_minhash_lsh_fast": ("documents",),
    "dedup_ngram_jaccard": ("documents",),
    "graph_triangle_stats": ("documents",),
    "qa_split_leakage": ("documents",),
    "stream_countmin_incremental": ("documents",),
    "stream_quantile_incremental": ("lineitem",),
    "stream_tumbling_hourly": ("events",),
    "stream_audio_incremental_neardup": ("documents",),
    "stream_incremental_rollup": ("events",),
    "stream_url_frontier_dedup": ("documents",),
    "stream_semantic_incremental_dedup": ("embeddings",),
    "contamination_decontam_rewrite": ("documents",),
    "dedup_exact_substring_spans": ("documents",),
    "dedup_selfrepeat_rewrite": ("documents",),
    "dedup_selfrepeat_substring_spans": ("documents",),
    "dedup_substring_rewrite": ("documents",),
    "sim_ivfpq_nprobe_curve": ("embeddings",),
    "sim_recall_at_k": ("embeddings",),
    "sim_recall_dim_curve": ("embeddings",),
    "sim_recall_graph_at_k": ("embeddings",),
    "sim_recall_ivf2_at_k": ("embeddings",),
    "sim_recall_ivf_trained_at_k": ("embeddings",),
    "sim_recall_ivfpq_at_k": ("embeddings",),
    "sim_recall_ivfpq_nprobe2_at_k": ("embeddings",),
    "sim_recall_ivfpq_rerank_at_k": ("embeddings",),
    "sim_recall_ivfpq_residual_at_k": ("embeddings",),
    "sim_recall_ivfpq_residual_rerank_at_k": ("embeddings",),
    "sim_recall_ivfpq_trained_at_k": ("embeddings",),
    "sim_recall_multiprobe": ("embeddings",),
    "sim_recall_pq_at_k": ("embeddings",),
    "sim_recall_pq_rerank_at_k": ("embeddings",),
    "dedup_embedding_cosine": ("embeddings",),
    "dedup_semantic_incremental": ("embeddings",),
    "sim_ann_lsh_banded": ("embeddings",),
    "sim_ann_lsh_multiprobe": ("embeddings",),
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
    """Processes started while `action()` ran: the `processes` line of
    /proc/stat, which counts every fork and thread creation on the
    machine, less the driver JVM's threads that were born during the
    run and are still alive after it. Those are Spark's pool threads
    (the block manager's cached pools grow by dozens in a burst), not
    processes; a `chmod` or any other child process has exited by then
    and stays counted."""
    jvm_tasks = f"/proc/{spark._jvm.java.lang.ProcessHandle.current().pid()}/task"

    def forks() -> int:
        try:
            with open("/proc/stat") as f:
                return next(int(line.split()[1]) for line in f if line.startswith("processes "))
        except (OSError, StopIteration):
            pytest.skip("/proc/stat has no readable processes counter")

    before_threads = set(os.listdir(jvm_tasks))
    before = forks()
    action()
    started = forks() - before
    return started - len(set(os.listdir(jvm_tasks)) - before_threads)


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
    # the best of three runs: a thread that starts and ends inside one
    # run still counts
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


def test_listings_etl_within_process_budget(spark, tmp_path):
    bronze = read_listings_json(spark, write_landing(tmp_path / "landing", _ETL_FILES))

    def run():
        write_lake_with_quarantine(bronze, str(tmp_path / "lake"), str(tmp_path / "quarantine"), mode="overwrite")

    run()  # warm, as for the streams; the best of three, as for them
    n = min(_processes(spark, run) for _ in range(3))
    assert n <= ETL_PROCESS_BUDGET, f"listings ETL started {n} processes, budget {ETL_PROCESS_BUDGET}"


def _local_fs(spark):
    """The session's Hadoop FileSystem for `file:` paths."""
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())


def test_session_local_file_system_is_the_packaged_one(spark):
    assert _local_fs(spark).getClass().getName() == "sparkgraft.fs.LocalFs"


def _modes(root) -> dict[str, int]:
    out = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            path = os.path.join(d, name)
            out[os.path.relpath(path, root)] = stat.S_IMODE(os.stat(path).st_mode)
    return out


def test_partitioned_parquet_write_keeps_stock_modes_and_checksums(spark, tmp_path):
    """A partitionBy write through the session's file system leaves the
    tree that Hadoop's stock LocalFileSystem writes: the same names,
    `.crc` siblings included, and the same modes. The stock tree is a
    copy through `FileUtil.copy`, which makes each directory and file
    (and its checksum) anew with the stock create and mkdirs."""
    ours = tmp_path / "ours"
    spark.range(40).selectExpr("id", "id % 3 AS part").repartition(2).write.partitionBy("part").parquet(str(ours))
    hadoop, conf = spark._jvm.org.apache.hadoop, spark._jsc.hadoopConfiguration()
    stock = hadoop.fs.LocalFileSystem()
    stock.initialize(spark._jvm.java.net.URI("file:///"), conf)
    src, dst = hadoop.fs.Path(f"file://{ours}"), hadoop.fs.Path(f"file://{tmp_path / 'stock'}")
    hadoop.fs.FileUtil.copy(_local_fs(spark), src, stock, dst, False, conf)
    got, want = _modes(ours), _modes(tmp_path / "stock")
    assert got == want
    assert "._SUCCESS.crc" in got
    parts = [p for p in got if p.endswith(".parquet")]
    assert len(parts) >= 3 and all(os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc") in got for p in parts)
    assert {m for p, m in got.items() if (ours / p).is_dir()} == {0o755}
    assert {m for p, m in got.items() if (ours / p).is_file()} == {0o644}
