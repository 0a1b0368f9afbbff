"""SparkSession factory with scale-oriented defaults.

Local-mode testing config that mirrors what we'd set on a real
cluster: AQE (runtime coalesce + skew-join handling), Arrow for any
pandas interchange, UTC session time zone so epoch arithmetic is
location-independent, and shuffle partitions sized to the local core
count instead of the 200 default (on a 1000-executor cluster this
would instead be ~2-3x total cores, or left to AQE's
coalescePartitions with a high initial value).

File scans are capped at one split per core
(`spark.sql.files.maxPartitionNum`). The file source packs small
files into a split until it reaches `openCostInBytes` (4 MB), which
assumes HDFS-sized files: a landing zone of thousands of 1 KB JSON
files would otherwise plan one task per ~32 files, and pay per-task
overhead for each. The cap only binds when a read would plan more
splits than cores; a single-file table still plans one split. On a
cluster, leave the cap unset, or size it so that it binds only on
small-file inputs (a multiple of the total cores well below a large
table's natural split count).

Streaming checkpoints (offset, commit and source logs, the metadata
file and the HDFS-backed state-store files) go through Spark's
`FileSystemBasedCheckpointFileManager` instead of the default
`FileContextBasedCheckpointFileManager`. Without the native
`libhadoop`, Hadoop's local file system runs a shell command for
`chmod` on every create and mkdir, and the FileContext rename path
adds a `readlink` per `getFileLinkStatus`. On a 4-vCPU host a
commit-log entry started 20 processes and took 16-17 ms through
FileContext, and 4 processes and about 4 ms through FileSystem
(median of `CommitLog.add` over 35 entries). A count-min
micro-batch writes three such entries (offsets, WAL commit, commit
log). Local `rename(2)` is atomic, so each log entry still commits
exactly once; `fileChecksum` stays on.

One behaviour differs on replay. When a restarted query rewrites a
state-store version that already exists (a crash after the state
commit but before the commit log), FileContext renames over the
existing file, while Hadoop's local FileSystem refuses an existing
target: the manager keeps the first file and leaves the rewrite's
`.N.delta.<uuid>.tmp` (and the temp of its checksum file) next to
it. Both files hold the same replayed state, so the result is the
same (tests/test_streaming.py pins it); the package's stream
checkpoints are temporary directories, so the orphans go with them.

A stateful stream keeps one state-store partition per shuffle
partition, each writing a delta file and checksum per micro-batch,
fixed at its first checkpoint. So every stream in the package starts
inside `streaming.pipeline.sized_state`: one partition per
`_STATE_ROWS_PER_PARTITION` rows of its state bound, at least one and
at most the session's value, which the session's own queries keep.

This factory builds `local[...]` sessions only. A cluster session
keeps Spark's default manager: on HDFS or an object store,
FileContext's rename-with-overwrite is the atomic commit, and the
per-file shell-out does not arise where `libhadoop` is installed.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "bigdata_project_spark", cpus: str | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.files.maxPartitionNum", str(cpus))
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs evaluate row-at-a-time (BatchEvalPythonUDTF)
        # unless Arrow transfer is opted in — the only non-Arrow
        # Python boundary left without this flag (audited fleet-wide
        # in tests/test_plan_audit.py)
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # the generated-class LRU defaults to 100 entries; a session
        # that runs the whole 150+-query surface (bench, oracle sweep,
        # the external harness) cycles far more distinct plans than
        # that and would re-pay janino compiles on eviction
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # testbed events.parquet stores TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as long and convert in load()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # bucketed-table tests write managed tables; keep them off the repo
        .config("spark.sql.warehouse.dir", os.path.join(tempfile.gettempdir(), "spark_graft_warehouse"))
    )
    return builder.getOrCreate()
