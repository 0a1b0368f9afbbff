"""Chunk-replay streams: the one harness of the five incremental
foreachBatch streams (count-min, quantile, URL frontier, semantic
dedup, audio fingerprint).

`run_chunk_stream` stages a batch relation as `n_chunks` key-ranged
parquet chunks and replays them as a file stream, one chunk per
micro-batch (availableNow, maxFilesPerTrigger=1), through the
caller's foreachBatch body. A production deployment swaps the staged
chunks for a Kafka source; the body is unchanged.

Staging is ONE job (`stage_chunks_one_pass`): a derived chunk id,
repartition("chunk") so each chunk's rows hash to a single task, and
a partitionBy("chunk") write. Each chunk directory holds exactly one
data file, so the micro-batch count and per-batch contents equal the
old one-filtered-write-per-chunk staging; only the files' write order
is lost, since they all commit together.

Delivery order is the one thing the caller declares:
- ORDER-FREE streams (`ordered=False`) merge commutatively across
  micro-batches: counter addition (the count-min and quantile stores,
  `run_counter_stream`) and pair-set union (the audio-fingerprint
  probe emits a cross-batch pair from whichever batch arrives second,
  and its reader unions every committed version). Any delivery order
  gives the same answer.
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

from bigdata_project_spark.caching import barrier


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


def run_chunk_stream(
    df: DataFrame,
    key: str,
    n_chunks: int,
    body: Callable[[DataFrame, int], None],
    work: str,
    ordered: bool,
) -> int:
    """Replay `df` through foreachBatch `body` as `n_chunks`
    `key`-ranged micro-batches staged under `work`; returns the
    micro-batch count. The key bounds read only the `key` column, so
    columns that are costly to compute (the synthesized audio
    payloads) are computed once, by the staging job."""
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
    sq = (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    return len(sq.recentProgress)


def run_counter_stream(
    df: DataFrame,
    key: str,
    n_chunks: int,
    work: str,
    init: DataFrame,
    delta: Callable[[DataFrame], DataFrame],
) -> tuple[DataFrame, int]:
    """An order-free `run_chunk_stream` that sums each micro-batch's
    counter `delta(batch)` into a consolidated store. `init` is the
    empty store; its last column is the count, the others the counter
    key. `delta` may return unsummed increments: the merge's one
    groupBy sums them together with the store. Returns (final store
    behind a barrier, micro-batch count).

    There is no initial version on disk: batch 0 merges into `init`
    itself, and on empty input (no micro-batch) the result is `init`
    behind the barrier. Every store read is pinned to `init.schema`,
    so no read pays a parquet schema-inference job.

    Store versions are KEYED BY BATCH ID and a completed version is
    never re-merged (its `_SUCCESS` marker gates a skip), so an
    at-least-once redelivery — foreachBatch's contract under a real
    Kafka source — merges each delta exactly once. The final store is
    reachable only through every earlier version, so reading it back
    checks the cross-batch state carry. The pointer to the newest
    version lives in driver memory, which scopes it to one
    availableNow run; a restartable deployment would persist it next
    to the versions.

    The stream's checkpoint sits under `work`, which every caller makes
    a temporary directory. So a replay's orphan temporary files (the
    session's FileSystem checkpoint manager keeps an existing file and
    leaves the rewrite's temp file beside it; see `session`) are
    removed with it."""
    spark = df.sparkSession
    *group, count = init.columns
    # [path, last merged batch id], no path before the first merge:
    # versions are cumulative, so a redelivery of an OLDER completed
    # batch must not roll the pointer back to a version missing later
    # merges
    latest: list = [None, -1]

    def store() -> DataFrame:
        if latest[0] is None:
            return init
        return spark.read.schema(init.schema).parquet(latest[0])

    def merge_batch(bdf: DataFrame, bid: int) -> None:
        nxt = os.path.join(work, f"v_b{bid}")
        if os.path.exists(os.path.join(nxt, "_SUCCESS")):
            if bid >= latest[1]:  # retry of the newest completed batch
                latest[0], latest[1] = nxt, bid
            return
        merged = (
            store()
            .unionByName(delta(bdf))
            .groupBy(*group)
            .agg(F.sum(count).cast("long").alias(count))
        )
        # overwrite clears a half-written version from a crashed
        # attempt; the _SUCCESS marker commits it
        merged.write.mode("overwrite").parquet(nxt)
        latest[0], latest[1] = nxt, bid

    n_batches = run_chunk_stream(df, key, n_chunks, merge_batch, work, ordered=False)
    return barrier(store(), eager=True), n_batches
