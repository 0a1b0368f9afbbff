"""`staging.BatchStore`, the one store of the foreachBatch streams: a
redelivered batch replaces its own output, a torn batch directory is
never read, and a store read before its first write is empty with the
store's schema."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bigdata_project_spark.operators.staging import BatchStore

_SCHEMA = "k long, v string"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_batch_written_twice_reads_back_once(spark, tmp_path):
    store = BatchStore(str(tmp_path / "store"), _SCHEMA)
    df = spark.createDataFrame([(1, "a"), (2, "b")], _SCHEMA)
    store.write(df, 0)
    store.write(df, 0)  # redelivery of batch 0
    store.write(df.withColumn("k", F.col("k") + 10), 1)
    assert _rows(store.read(spark)) == [(1, "a", 0), (2, "b", 0), (11, "a", 1), (12, "b", 1)]
    # inside batch 1, a read leaves out the directory it overwrites
    assert _rows(store.read(spark, exclude=1)) == [(1, "a", 0), (2, "b", 0)]


def test_torn_batch_is_ignored_then_rebuilt(spark, tmp_path):
    store = BatchStore(str(tmp_path / "store"), _SCHEMA)
    df = spark.createDataFrame([(1, "a")], _SCHEMA)
    store.write(df, 0)
    # a write that died MID-file: a truncated part and no _SUCCESS
    torn = os.path.join(store.path, "batch=1")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.snappy.parquet"), "wb") as fh:
        fh.write(b"PAR1\x00\x13torn")  # valid magic, garbage body
    assert _rows(store.read(spark)) == [(1, "a", 0)]
    store.write(df.withColumn("k", F.lit(2)), 1)  # the retry
    assert _rows(store.read(spark)) == [(1, "a", 0), (2, "a", 1)]


def test_unwritten_store_reads_empty_with_its_schema(spark, tmp_path):
    store = BatchStore(str(tmp_path / "store"), _SCHEMA)
    df = store.read(spark)
    assert df.columns == ["k", "v", "batch"]
    assert [f.dataType.simpleString() for f in df.schema] == ["bigint", "string", "int"]
    assert df.collect() == []
