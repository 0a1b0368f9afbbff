"""Scale-path features: bucketed co-located joins (shuffle
elimination) and stateful streaming (applyInPandasWithState) —
SURVEY.md §4 physical design + §2.9 custom stateful logic."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bigdata_project_spark.tables import load


def test_bucketed_join_eliminates_shuffle(spark, sf_dir):
    """Pre-bucketing both join sides on the key removes the Exchange
    from the join — the co-located-join strategy for repeated joins
    of the same big tables at 100 TB."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    o.write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode("overwrite").saveAsTable("b_orders")
    c.write.bucketBy(8, "c_custkey").sortBy("c_custkey").mode("overwrite").saveAsTable("b_customer")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        j = (
            spark.table("b_orders")
            .join(spark.table("b_customer"), F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_nationkey")
            .agg(F.count("*").alias("n"))
        )
        j.collect()
        executed = j._jdf.queryExecution().executedPlan().toString()
        # the join itself must not shuffle; the only exchange allowed is
        # the aggregation's (on c_nationkey)
        join_part = executed.split("SortMergeJoin")[1] if "SortMergeJoin" in executed else ""
        assert "SortMergeJoin" in executed
        assert "Exchange hashpartitioning(o_custkey" not in executed
        assert "Exchange hashpartitioning(c_custkey" not in executed
        assert join_part  # sanity
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_apply_in_pandas_with_state(spark, sf_dir):
    """Custom stateful streaming operator (per-user event counting) —
    the 'price-change tracking per id' shape from SURVEY §2.9."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from bigdata_project_spark.streaming.pipeline import read_events_stream, run_available_now

    def count_events(key, pdf_iter, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    ev = read_events_stream(spark, sf_dir)
    counted = ev.groupBy("user_id").applyInPandasWithState(
        count_events,
        outputStructType="user_id long, n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    from bigdata_project_spark.tables import parquet_row_count

    n_events = parquet_row_count(f"{sf_dir}/events.parquet")
    result = run_available_now(counted, "t_stateful_counts", "update", n_events)
    got = {r["user_id"]: r["n"] for r in result.collect()}
    expected = {
        r["user_id"]: r["n"]
        for r in load(spark, sf_dir, "events").groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == expected


def test_observation_metrics(spark, sf_dir):
    """df.observe: pipeline-embedded metrics (row counts, sums)
    collected as a side effect of the action — the operational
    monitoring hook a production run attaches to every stage."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F2

    obs = Observation("silver_metrics")
    l = load(spark, sf_dir, "lineitem")
    observed = l.observe(
        obs,
        F2.count(F2.lit(1)).alias("n_rows"),
        F2.count(F2.when(F2.col("l_discount") > 0.05, 1)).alias("n_high_discount"),
    )
    n = observed.filter(F2.col("l_quantity") > 0).count()
    assert obs.get["n_rows"] >= n
    assert 0 <= obs.get["n_high_discount"] <= obs.get["n_rows"]


def test_transform_with_state_unavailable_in_container():
    """transformWithStateInPandas (Spark 4 arbitrary-state API) needs
    google.protobuf, which is not importable in this container
    (verified: its streaming runner crashes with ImportError).
    applyInPandasWithState above covers the custom-stateful surface;
    swap to transformWithStateInPandas on a cluster with protobuf."""
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401

        pytest.skip("protobuf present — enable the real test")
    except ImportError:
        pass


def test_binary_file_source_for_multimodal(spark, tmp_path):
    """spark.read.format("binaryFile"): the ingest edge for opaque
    image/audio/video blobs (SURVEY §2.10 multimodal columns) — each
    file becomes (path, modificationTime, length, content binary),
    ready for the mapInPandas decode stage in operators/multimodal.py.
    Globs + pathGlobFilter prune at the listing level before any IO."""
    d = tmp_path / "blobs"
    d.mkdir()
    payloads = {f"img_{i}.bin": bytes([i]) * (10 + i) for i in range(5)}
    (d / "ignore.txt").write_text("not a blob")
    for name, data in payloads.items():
        (d / name).write_bytes(data)

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(str(d))
        .select("path", "length", "content")
    )
    rows = df.collect()
    assert len(rows) == 5  # .txt filtered out at listing time
    by_name = {r["path"].rsplit("/", 1)[-1]: r for r in rows}
    for name, data in payloads.items():
        assert by_name[name]["length"] == len(data)
        assert bytes(by_name[name]["content"]) == data


def test_range_partitioned_clustered_write(spark, sf_dir, tmp_path):
    """repartitionByRange + sortWithinPartitions: the write-clustering
    recipe that gives parquet row-group min/max stats real pruning
    power (data skipping on o_totalprice ranges). Each output file
    covers a disjoint price range; a range predicate then touches a
    subset of files instead of all of them."""
    import glob

    from pyspark.sql import functions as F

    from bigdata_project_spark.tables import load

    o = load(spark, sf_dir, "orders")
    out = str(tmp_path / "clustered")
    (
        o.repartitionByRange(4, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .write.parquet(out)
    )
    files = [f for f in glob.glob(f"{out}/*.parquet")]
    assert len(files) == 4
    # per-file ranges must be (nearly) disjoint: collect min/max per file
    spans = []
    for f in files:
        mm = spark.read.parquet(f).agg(
            F.min("o_totalprice"), F.max("o_totalprice")
        ).first()
        spans.append((mm[0], mm[1]))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # disjoint ranges -> file-level skipping works
    # row preservation
    assert spark.read.parquet(out).count() == o.count()


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: joining a partition-keyed fact lake
    with a filtered dim must prune fact partitions AT RUNTIME from
    the dim's join keys — at 100 TB this is the difference between
    scanning one partition and scanning the lake. The pruning filter
    appears as dynamicpruningexpression on the fact scan."""
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events")
    lake = str(tmp_path / "ev_by_type")
    ev.write.partitionBy("event_type").parquet(lake)

    fact = spark.read.parquet(lake)
    dim = spark.createDataFrame(
        [("view", 1), ("click", 2), ("purchase", 3)], "event_type string, w int"
    ).filter(F.col("w") == 1)
    j = fact.join(dim, "event_type").groupBy("event_type").agg(F.count("*").alias("n"))
    rows = j.collect()

    executed = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in executed.lower()
    # and the pruned result is the plain filtered aggregate
    expected = {
        r["event_type"]: r["n"]
        for r in ev.filter(F.col("event_type") == "view")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r["event_type"]: r["n"] for r in rows} == expected


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """AQE runtime bloom-filter: a selective filter on the orders side
    of a shuffle join injects bloom_filter_agg + BloomFilterMightContain
    onto the lineitem scan side, discarding non-matching rows BEFORE
    the shuffle — the runtime semi-join reduction that cuts shuffle
    volume ~10x on selective fact-fact joins at 100 TB. (Thresholds
    are lowered because local testdata is far below the 10 GB
    application-side default; on a real cluster the defaults gate it
    to genuinely large scans.)"""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
        l = load(spark, sf_dir, "lineitem")
        q = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        rows = q.collect()
        executed = q._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in executed
        assert "might_contain" in executed.lower()
        assert len(rows) == 1 and rows[0]["n"] > 0
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_file_metadata_lineage_columns(spark, sf_dir):
    """The hidden _metadata struct gives per-row file lineage (which
    lake file produced this row) with no extra scan cost — the
    provenance hook an incident review needs at 100 TB ('which ingest
    batch poisoned this aggregate?')."""
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", F.col("_metadata.file_name").alias("src_file"),
                F.col("_metadata.file_size").alias("src_bytes"))
    )
    r = df.first()
    assert r["src_file"] == "events.parquet"
    assert r["src_bytes"] > 0
    # lineage rollup: rows per source file
    per_file = df.groupBy("src_file").count().collect()
    assert len(per_file) == 1


def test_range_partitioned_global_sort_layout(spark, sf_dir, tmp_path):
    """Terasort-style total order WITHOUT a single-partition sort:
    repartitionByRange picks sampled range boundaries, each partition
    sorts locally, and the written files form a globally-ordered lake
    (per-file [min, max] ranges are pairwise disjoint and ordered).
    This is how a 100 TB table gets a total order — the driver never
    sees the data and no task sorts more than its own range."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    out = str(tmp_path / "range_sorted")
    (
        o.repartitionByRange(4, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite")
        .parquet(out)
    )
    per_file = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"), F.count("*").alias("n"))
        .collect()
    )
    ranges = sorted((r["lo"], r["hi"], r["n"]) for r in per_file if r["n"] > 0)
    assert len(ranges) >= 2  # the sort actually spread across files
    for (lo1, hi1, _), (lo2, hi2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)  # disjoint, ordered ranges
    # and within-file order is real: re-reading one file yields a
    # sorted column (parquet preserves row order per file)
    import pyarrow.parquet as pq
    import glob

    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    vals = pq.read_table(files[0], columns=["o_totalprice"]).column(0).to_pylist()
    assert vals == sorted(vals)
