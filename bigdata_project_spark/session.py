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

Every local file the JVM writes goes through the package's own Hadoop
file system for `file:` paths: `jvm/LocalFs.java`, built into
`jvm/localfs.jar`, which goes on the driver's class path and is named
by `fs.file.impl`. Without the native `libhadoop`, Hadoop's stock local
file system sets the mode of each file and directory it creates by
running a `chmod` process: every parquet part file, `.crc` file,
committer temp dir, `_SUCCESS` marker, checkpoint-log entry and
state-store delta. `LocalFs` is Hadoop's checksummed `LocalFileSystem`
over a raw file system that sets the nine rwx bits through `java.nio`,
so files keep their modes and `.crc` files are written and verified as
before. On 4 vCPUs, a warm `stream_countmin_incremental` run at sf0.001
started 132 processes through the stock file system and 8 through
`LocalFs` (tests/test_job_budget.py's count, which leaves out new JVM
threads).

Streaming checkpoints (offset, commit and source logs, the metadata
file and the HDFS-backed state-store files) go through Spark's
`FileSystemBasedCheckpointFileManager` instead of the default
`FileContextBasedCheckpointFileManager`. The default manager uses
Hadoop's `FileContext` API, whose local file system builds its own
`RawLocalFs` and ignores `fs.file.impl`: it would still run a `chmod`
per create and mkdir, and its rename path a `readlink` per
`getFileLinkStatus`. Local `rename(2)` is atomic, so each log entry
still commits exactly once; `fileChecksum` stays on.

One behaviour differs on replay. When a restarted query rewrites a
state-store version that already exists (a crash after the state
commit but before the commit log), FileContext renames over the
existing file, while `LocalFs` refuses an existing file target (the
rule of Hive's `ProxyLocalFileSystem`, which the bundled hive-exec jar
registers for `file:`): the manager keeps the first file and leaves
the rewrite's `.N.delta.<uuid>.tmp` (and the temp of its checksum
file) next to it. Both files hold the same replayed state, so the
result is the same (tests/test_streaming.py pins it); the package's
stream checkpoints are temporary directories, so the orphans go with
them.

A stateful stream keeps one state-store partition per shuffle
partition, each writing a delta file and checksum per micro-batch,
fixed at its first checkpoint. So every stream in the package starts
inside `streaming.pipeline.sized_state`: one partition per
`_STATE_ROWS_PER_PARTITION` rows of its state bound, at least one and
at most the session's value, which the session's own queries keep.

This factory builds `local[...]` sessions only. A cluster session
keeps Spark's default manager and Hadoop's own file systems: on HDFS or
an object store, FileContext's rename-with-overwrite is the atomic
commit, and the per-file shell-out does not arise where `libhadoop` is
installed.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
_LOCALFS_JAR = os.path.join(os.path.dirname(__file__), "jvm", "localfs.jar")


def get_spark(app_name: str = "bigdata_project_spark", cpus: str | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.files.maxPartitionNum", str(cpus))
        .config("spark.driver.extraClassPath", _LOCALFS_JAR)
        .config("spark.hadoop.fs.file.impl", "sparkgraft.fs.LocalFs")
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
