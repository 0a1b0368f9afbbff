"""Structured Streaming tests (SURVEY.md §5.4): file source as a
bounded stream (availableNow), watermark+window aggs, streaming
dedup, exactly-once parquet sink with checkpoint, foreachBatch."""

from __future__ import annotations

import os
import re
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from bigdata_project_spark.streaming.pipeline import read_events_stream, run_available_now


def test_stream_is_streaming(spark, sf_dir):
    assert read_events_stream(spark, sf_dir).isStreaming


def test_tumbling_agg_matches_batch(spark, sf_dir):
    from bigdata_project_spark.tables import load

    def ckpt_dirs() -> set:
        return set(Path(tempfile.gettempdir()).glob("ckpt_*"))

    ckpts_before = ckpt_dirs()
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w")).agg(F.count("*").alias("n"))
    result = run_available_now(
        agg.select(F.col("w.start").alias("ws"), "n"), "t_tumbling", "complete"
    )
    assert ckpt_dirs() <= ckpts_before, "run_available_now left its checkpoint dir behind"
    batch = (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    assert sorted(map(tuple, result.collect())) == sorted(map(tuple, batch.collect()))


def test_parquet_sink_checkpoint_exactly_once(spark, sf_dir, tmp_path):
    """writeStream -> parquet with checkpoint; a second availableNow
    run over the same (fully-consumed) source appends nothing."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    ev = read_events_stream(spark, sf_dir).select("event_id", "user_id", "value")

    def run_once():
        q = (
            ev.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out).count()
    run_once()  # same checkpoint: source already committed -> no duplicates
    n2 = spark.read.parquet(out).count()
    expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert n1 == expected and n2 == expected


def test_foreach_batch_upsert(spark, sf_dir, tmp_path):
    """foreachBatch: the 'MongoDB fast-querying sink' pattern
    (README.md:29-32) — per-microbatch custom writes."""
    seen = []

    ev = read_events_stream(spark, sf_dir).groupBy("event_type").agg(F.count("*").alias("n"))

    def sink(batch_df, batch_id):
        seen.append((batch_id, {r["event_type"]: r["n"] for r in batch_df.collect()}))

    q = (
        ev.writeStream.foreachBatch(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen) >= 1
    total = sum(seen[-1][1].values())
    assert total == spark.read.parquet(f"{sf_dir}/events.parquet").count()


def test_streaming_dedup_bounded_state(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    dedup = ev.dropDuplicates(["user_id"]).select("user_id")
    result = run_available_now(dedup, "t_dedup_users", "append")
    n_users = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id").distinct().count()
    assert result.count() == n_users


@pytest.mark.parametrize("mode", ["session_window"])
def test_session_window_stream(spark, sf_dir, mode):
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id").agg(
        F.count("*").alias("n")
    )
    result = run_available_now(
        agg.select("user_id", F.col("w.start").alias("ws"), "n"), "t_sessions", "append"
    )
    # availableNow + append emits only watermark-closed sessions; all
    # sessions older than max(ts) - 1h are closed, so nearly all rows
    assert result.count() > 0


def test_kafka_decode_path_with_rate_source(spark, tmp_path):
    """The Kafka value-decode stage (binary JSON `value` -> typed rows)
    driven by the rate source — a live unbounded streaming source with
    real offset progression, standing in for a broker the container
    doesn't have. Asserts schema enforcement (typed columns out) and
    multi-batch delivery under the default trigger."""
    import time

    from bigdata_project_spark.streaming.pipeline import decode_kafka_value

    schema = "user_id LONG, event_type STRING"
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "200")
        .load()
        .select(
            F.to_json(
                F.struct(
                    F.col("value").alias("user_id"),
                    F.concat(F.lit("type_"), (F.col("value") % 3).cast("string")).alias("event_type"),
                )
            )
            .cast("binary")
            .alias("value")  # kafka delivers value as binary
        )
    )
    typed = decode_kafka_value(raw, schema)
    assert typed.isStreaming
    assert [(f.name, f.dataType.simpleString()) for f in typed.schema.fields] == [
        ("user_id", "bigint"),
        ("event_type", "string"),
    ]
    q = (
        typed.writeStream.format("memory")
        .queryName("kafka_shape_rate")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.table("kafka_shape_rate").count() >= 50 and len(q.recentProgress) >= 2:
                break
            time.sleep(0.5)
        rows = spark.table("kafka_shape_rate").collect()
        assert len(rows) >= 50, "rate source delivered too few rows"
        assert len(q.recentProgress) >= 2, "expected multi-batch offset progression"
        assert {r["event_type"] for r in rows} <= {"type_0", "type_1", "type_2"}
        assert all(isinstance(r["user_id"], int) for r in rows)
    finally:
        q.stop()


def test_state_store_introspection(spark, sf_dir, tmp_path):
    """Spark 4 state data source: the ops story for stateful streaming
    at scale — read a checkpoint's state stores as DataFrames to audit
    state size without instrumenting the job. Asserts the dedup
    operator's state is bounded by the distinct key count (the
    state-explosion failure mode this introspection exists to catch)
    and the agg operator holds one row per group."""
    from bigdata_project_spark.streaming.pipeline import read_events_stream

    ckpt = str(tmp_path / "ckpt")
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    dedup = ev.dropDuplicates(["user_id", "event_type"]).groupBy("event_type").count()
    q = (
        dedup.writeStream.format("memory")
        .queryName("state_introspect")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_types = batch.select("event_type").distinct().count()
    n_keys = batch.select("user_id", "event_type").distinct().count()

    agg_state = spark.read.format("statestore").load(ckpt)  # operatorId 0 = the agg
    assert agg_state.count() == n_types
    dedup_state = (
        spark.read.format("statestore").option("operatorId", 1).load(ckpt)
    )
    assert dedup_state.count() == n_keys


def test_incremental_ingest_processes_only_new_files(spark, sf_dir, tmp_path):
    """The production landing-dir contract: after a checkpointed run
    consumes batch1, dropping batch2 into the source dir and re-running
    with the SAME checkpoint processes exactly the delta — no reread of
    batch1, no duplicates, no losses. This is the incremental-ingest
    behavior that lets a 100 TB lake tail a firehose directory."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    src = tmp_path / "landing"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", str(src / "batch1.parquet"))

    base = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = base.count()
    schema = base.schema

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .select("event_id", "user_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out).count() == n

    # batch2: same rows, shifted ids (so dup-detection would be visible)
    staged = str(tmp_path / "staged")
    base.withColumn("event_id", F.col("event_id") + 10_000_000).write.parquet(staged)
    for i, f in enumerate(glob.glob(f"{staged}/part-*.parquet")):
        shutil.copy(f, str(src / f"batch2_{i}.parquet"))

    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 2 * n  # batch1 NOT reprocessed, batch2 fully in
    assert got.select("event_id").distinct().count() == 2 * n


def test_watermark_drops_late_data_across_batches(spark, tmp_path):
    """The watermark CONTRACT, pinned end-to-end: after batch 1
    advances the watermark, a batch-2 event older than (max ts seen -
    delay) is DROPPED from the windowed aggregate — its window's
    state is closed and its row never appears — while an on-time
    batch-2 event still lands. maxFilesPerTrigger=1 forces the two
    files into separate micro-batches so the watermark actually
    advances between them."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    src = tmp_path / "landing"
    src.mkdir()
    base = int(_time.mktime((2024, 3, 1, 10, 0, 0, 0, 0, 0)))  # local; exact value irrelevant

    def mk(rows, name, mtime):
        df = spark.createDataFrame(
            [(i,) for i in rows], "t long"
        ).select(F.timestamp_seconds("t").alias("ts"))
        staged = str(tmp_path / ("st_" + name))
        df.coalesce(1).write.parquet(staged)
        import glob
        import shutil

        f = glob.glob(staged + "/part-*.parquet")[0]
        dst = str(src / name)
        shutil.copy(f, dst)
        os.utime(dst, (mtime, mtime))

    H = 3600
    # batch 1: 10:00-11:59 activity
    mk([base, base + H // 2, base + H, base + 2 * H - 60], "b1.parquet", 1_000_000)
    # batch 2: an on-time 12:30 event; its COMMIT is what makes the
    # watermark (12:20) visible to the next batch — the watermark a
    # batch filters with is the one committed by the batch before it
    mk([base + 2 * H + 30 * 60], "b2.parquet", 2_000_000)
    # batch 3: an event from a full hour before base — hopelessly late
    mk([base - H], "b3.parquet", 3_000_000)

    schema = spark.read.parquet(str(src / "b1.parquet")).schema
    agg = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.unix_micros("w.start").alias("ws"), "n")
    )
    from bigdata_project_spark.streaming.pipeline import run_available_now

    got = {r["ws"]: r["n"] for r in run_available_now(agg, "t_late_drop", "append").collect()}

    us = 1_000_000
    # the late (base - H) event arrives when the committed watermark
    # is 12:20, far past its window end -> the row is dropped and its
    # window never appears. (One batch earlier the drop would only be
    # best-effort: Spark filters with the watermark committed by the
    # PREVIOUS batch, which is why b3 is staged separately from b2.)
    assert (base - H) * us not in got
    assert got.get(base * us) == 2  # 10:00 window: base, base+30m
    assert got.get((base + H) * us) == 2  # 11:00 window
    # the 12:30 on-time event's window is not finalized in append mode
    # (final watermark 12:20 < its 13:00 end) — pending, not lost
    assert (base + 2 * H) * us not in got


@pytest.fixture(scope="module")
def lost_commit_replay(spark, tmp_path_factory):
    """A complete-mode count over three one-file micro-batches, run
    twice on one checkpoint: the second run follows the loss of the
    last commit-log entry (a crash after the state commit, before the
    commit log), so it replays that batch against state version 3,
    which already exists."""
    import glob
    import shutil

    tmp = tmp_path_factory.mktemp("lost_commit")
    src = tmp / "landing"
    src.mkdir()
    for i in range(3):
        staged = str(tmp / f"st{i}")
        spark.range(10 * i, 10 * i + 25).select((F.col("id") % 7).alias("k")).coalesce(1).write.parquet(staged)
        shutil.copy(glob.glob(f"{staged}/part-*.parquet")[0], str(src / f"b{i}.parquet"))
    schema = spark.read.parquet(str(src / "b0.parquet")).schema
    ckpt = tmp / "ckpt"

    def run(name):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
            .groupBy("k")
            .count()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return len(q.recentProgress), sorted(map(tuple, spark.table(name).collect()))

    def state():
        return sorted(map(tuple, spark.read.format("statestore").load(str(ckpt)).collect()))

    def last_deltas():
        # inode of each state partition's version-3 delta file
        return {str(p): os.stat(p).st_ino for p in ckpt.glob("state/0/*/3.delta")}

    first = run("t_replay_first")
    state_first, deltas_first = state(), last_deltas()
    last = max(int(p.name) for p in (ckpt / "commits").iterdir() if p.name.isdigit())
    (ckpt / "commits" / str(last)).unlink()
    (ckpt / "commits" / f".{last}.crc").unlink()
    replay = run("t_replay_again")
    return {
        "first": first,
        "replay": replay,
        "batch": sorted(map(tuple, spark.read.parquet(str(src)).groupBy("k").count().collect())),
        "state": (state_first, state()),
        "deltas": (deltas_first, last_deltas()),
        "orphans": [
            p for p in ckpt.glob("state/0/*/.3.delta.*.tmp")
            if re.fullmatch(r"\.3\.delta\.[0-9a-f-]{36}\.tmp", p.name)
        ],
        "ckpt": str(ckpt),
    }


def test_stateful_replay_after_lost_commit(lost_commit_replay):
    """A batch whose commit-log entry was lost replays once, and the
    replay leaves the result and the operator state unchanged."""
    r = lost_commit_replay
    (n_first, result_first), (n_replay, result_replay) = r["first"], r["replay"]
    assert n_first == 3 and n_replay == 1
    assert result_replay == result_first == r["batch"]
    state_first, state_replay = r["state"]
    assert state_first and state_replay == state_first


def test_session_checkpoint_manager_keeps_first_state_file_on_replay(spark, lost_commit_replay):
    """The session routes checkpoint I/O through the FileSystem
    checkpoint manager. Its one difference from Spark's default
    FileContext manager shows on a replay: the state-store version
    that already exists is kept (same inode), and the rewrite's
    temporary file stays beside it."""
    jvm = spark._jvm
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(lost_commit_replay["ckpt"]),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert mgr.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"
    deltas_first, deltas_replay = lost_commit_replay["deltas"]
    assert deltas_first and deltas_replay == deltas_first
    assert len(lost_commit_replay["orphans"]) == len(deltas_first)
