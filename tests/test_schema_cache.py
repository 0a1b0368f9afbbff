"""tables.parquet_schema: the inferred-schema cache must miss whenever
what inference would return can differ — a rewritten file, or a
session conf that changes how parquet types map to Spark types."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import LongType

from bigdata_project_spark import tables

_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def test_rewrite_at_same_path_returns_new_schema(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert tables.load(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(
        pa.table({"r_regionkey": [0], "r_name": ["A"], "r_comment": ["c"], "r_extra": [1.5]}),
        path,
    )
    df = tables.load(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment", "r_extra"]
    assert [tuple(r) for r in df.collect()] == [(0, "A", "c", 1.5)]


def test_nanos_conf_is_part_of_the_key(spark, sf_dir, tmp_path):
    """Reads of `events` with nanosAsLong true and then false do not
    share a cache entry. It matters on a TIMESTAMP(NANOS) file: a read
    with the conf infers a long, a read without it must be refused,
    not handed the other read's schema."""
    events = os.path.abspath(f"{sf_dir}/events.parquet")
    nanos = str(tmp_path / "events.parquet")
    t = pq.read_table(events)
    i = t.schema.get_field_index("ts")
    pq.write_table(t.set_column(i, "ts", t["ts"].cast(pa.timestamp("ns"))), nanos)
    prior = spark.conf.get(_NANOS)
    try:
        entries = []
        for v in ("true", "false"):
            spark.conf.set(_NANOS, v)
            tables.parquet_schema(spark, events)
            entries.append(tables._schemas[events][0])
        assert entries[0] != entries[1]

        for v in ("true", "false", "true"):
            spark.conf.set(_NANOS, v)
            if v == "true":
                assert tables.parquet_schema(spark, nanos)["ts"].dataType == LongType()
            else:
                with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
                    tables.parquet_schema(spark, nanos)
    finally:
        spark.conf.set(_NANOS, prior)
