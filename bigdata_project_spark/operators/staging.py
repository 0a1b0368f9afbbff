"""Chunk-replay streams: the one harness of the five incremental
streams over a staged batch relation (count-min, quantile, URL
frontier, semantic dedup, audio fingerprint).

`chunk_source` stages a batch relation as `n_chunks` key-ranged
parquet chunks and replays them as a file stream, one chunk per
micro-batch (availableNow, maxFilesPerTrigger=1); a production
deployment swaps in a Kafka source. The count-min and quantile
counters consume it as a streaming groupBy(keys).count() whose counts
live in Spark's state store and restart exactly once from the
stream's checkpoint (`count_chunk_stream`); only the three dedup
streams run a foreachBatch body (`run_chunk_stream`).

Staging is ONE job (`stage_chunks_one_pass`): a derived chunk id,
repartition("chunk") so each chunk's rows hash to a single task, and
a partitionBy("chunk") write, so each chunk directory holds exactly
one data file. The files' write order is lost, since they all commit
together.

Delivery order is the one thing the caller declares:
- ORDER-FREE streams (`ordered=False`) merge commutatively across
  micro-batches: counter addition (the count-min and quantile
  counts) and pair-set union (the audio-fingerprint probe emits a
  cross-batch pair from whichever batch arrives second, and its
  reader unions every committed version). Any delivery order gives
  the same answer.
- ORDERED streams (`ordered=True`: URL frontier first-writer-wins,
  in-order semantic dedup) need ascending key order. The file source
  orders by mtime with unspecified tie order, so the harness pins
  explicitly increasing mtimes per chunk, one hour apart, and each
  body keeps a loud out-of-order guard. On empty input an ordered
  stream stages one schema-only file, so the stream still triggers
  and the body's result stores exist (the empty-twin sweeps run this).
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class AppendStore:
    """A parquet store that grows by appends and is read back with the
    schema of the last frame appended (no schema-inference job).

    A store given its schema at construction can be read before the
    first append: it is then empty, with no file written for it."""

    def __init__(self, path: str, schema: StructType | None = None) -> None:
        self.path = path
        self.schema = schema
        self._appended = False

    def append(self, df: DataFrame) -> None:
        self.schema = df.schema
        self._appended = True
        df.write.mode("append").parquet(self.path)

    def read(self, spark: SparkSession) -> DataFrame:
        if not self._appended:
            # limit(0) folds to an empty local relation, so the
            # optimizer removes a join or union against it
            return spark.createDataFrame([], self.schema).limit(0)
        return spark.read.schema(self.schema).parquet(self.path)


def stage_chunks_one_pass(
    df: DataFrame, key: str, lo: int, step: int, src_dir: str
) -> None:
    """Write `df` under src_dir/chunk=<i>/ with i = (key - lo) div
    step, one data file per chunk, in ONE job. Matches the per-chunk
    range filters `lo + i*step <= key < lo + (i+1)*step` exactly:
    every non-null key lands in the same chunk, and null keys are
    dropped just as they fell through every range filter."""
    (
        df.filter(F.col(key).isNotNull())
        .withColumn("chunk", F.expr(f"({key} - {lo}) div {step}").cast("int"))
        .repartition("chunk")
        .write.mode("overwrite")
        .partitionBy("chunk")
        .parquet(src_dir)
    )


def chunk_source(df: DataFrame, key: str, n_chunks: int, work: str, ordered: bool) -> DataFrame:
    """Stage `df` under `work` as `n_chunks` `key`-ranged chunks and
    return the file stream that replays them, one chunk per
    micro-batch. The key bounds read only the `key` column, so columns
    that are costly to compute (the synthesized audio payloads) are
    computed once, by the staging job."""
    src_dir = os.path.join(work, "src")
    lo, hi = df.agg(F.min(key), F.max(key)).first()
    empty = lo is None
    if empty:
        lo, hi = 0, 0
    step = max(1, (int(hi) - int(lo)) // n_chunks + 1)
    if ordered and empty:
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src_dir, "chunk=0"))
    else:
        stage_chunks_one_pass(df, key, int(lo), step, src_dir)
    if ordered:
        base_mtime = int(time.time()) - 3600 * n_chunks
        for i in range(n_chunks):
            t = base_mtime + i * 3600
            for root, _dirs, files in os.walk(os.path.join(src_dir, f"chunk={i}")):
                for fn in files:
                    os.utime(os.path.join(root, fn), (t, t))
    return (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )


def run_chunk_stream(
    df: DataFrame,
    key: str,
    n_chunks: int,
    body: Callable[[DataFrame, int], None],
    work: str,
    ordered: bool,
) -> int:
    """Replay `df` through foreachBatch `body` as `n_chunks`
    `key`-ranged micro-batches staged under `work` (`chunk_source`);
    returns the micro-batch count."""
    sq = (
        chunk_source(df, key, n_chunks, work, ordered)
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    return len(sq.recentProgress)


def count_chunk_stream(
    df: DataFrame, key: str, n_chunks: int, work: str,
    increments: Callable[[DataFrame], DataFrame], count: str, state_rows: int, name: str,
) -> tuple[DataFrame, int]:
    """Count `increments` (one row per increment, every column a
    counter key) over `n_chunks` `key`-ranged micro-batches of `df`:
    a complete-mode streaming groupBy-count into the memory-sink table
    `name`, at most `state_rows` counters, checkpointed under
    `work/ckpt`. Returns (the counter table, micro-batch count)."""
    from bigdata_project_spark.streaming.pipeline import run_to_memory  # imports this module

    inc = increments(chunk_source(df, key, n_chunks, work, ordered=False))
    counts = inc.groupBy(*inc.columns).agg(F.count("*").alias(count))
    n_batches = run_to_memory(counts, name, "complete", state_rows, os.path.join(work, "ckpt"))
    return df.sparkSession.table(name), n_batches
