"""Testbed table loading (driver contract: /root/testdata/sf*/<name>.parquet).

`load` is the single scan entry point for the relational queries, so
partitioning/caching policy lives in one place. Reads are
`spark.read.parquet` — Catalyst's vectorized parquet reader gives us
column pruning + predicate pushdown for free; at 100 TB the same call
reads a partitioned lake directory and prunes partitions.

Schema cache. Without a schema, `spark.read.parquet` infers one by
reading the file footer in a Spark job (one job and ~0.1 s on a warm
session). `parquet_schema` keeps the inferred `StructType` for the
life of the process, one entry per absolute path, valid while the
file's size and `st_mtime_ns` and the session confs that change what
inference returns (`_SCHEMA_CONFS`: nanos-as-long, timestamp-NTZ
inference, binary-as-string, INT96-as-timestamp) stay the same. The
key is safe because the footer is a function of the file bytes: a
rewrite at the same path changes the mtime (and, for a different
column set, the size), so it misses the cache, and a read of the same
bytes under other confs misses it too. Only regular files are cached;
a directory (a lake) can change beneath an unchanged directory mtime,
so it is inferred on every read as before. A schema given to the
reader adds no operator, so plans are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Tables small enough to always broadcast in joins at any realistic
# scale factor (dimension tables in the star schema).
BROADCAST_DIMS = {"region", "nation", "supplier"}


# Columns stored as parquet TIMESTAMP(NANOS); with
# spark.sql.legacy.parquet.nanosAsLong they arrive as epoch-nanos
# longs and are converted to microsecond timestamps here (integer
# `div`, no double round-trip — epoch-nanos exceed 2^53).
_NANOS_TS_COLS = {"events": ("ts",)}

# session confs that change the schema parquet inference returns
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
# path -> (file version and inference confs, schema): one slot per
# path, so rewrites replace their entry instead of growing the cache
_schemas: dict[str, tuple[tuple, T.StructType]] = {}


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema `spark.read.parquet(path)` infers, cached per file
    version and inference confs (module docstring)."""
    path = os.path.abspath(path)
    if not os.path.isfile(path):
        return spark.read.parquet(path).schema
    st = os.stat(path)
    version = (st.st_size, st.st_mtime_ns, *(spark.conf.get(c) for c in _SCHEMA_CONFS))
    hit = _schemas.get(path)
    if hit is None or hit[0] != version:
        hit = _schemas[path] = (version, spark.read.parquet(path).schema)
    return hit[1]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # the driver may hand us a session built without our defaults;
    # nanos-timestamp reads and UTC semantics must hold regardless
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    for c in _NANOS_TS_COLS.get(name, ()):
        if isinstance(df.schema[c].dataType, T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    # ms-precision parquet timestamps read as TIMESTAMP_NTZ; normalize
    # to TIMESTAMP (session tz is UTC, so values are unchanged) so the
    # full timestamp function surface (unix_micros, window, ...) applies
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testbed table as a temp view for spark.sql queries."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def load_spread(spark: SparkSession, sf_dir: str, name: str, key: str = "doc_id") -> DataFrame:
    """load() + a CONDITIONAL spread for CPU-bound consumers: when the
    scan yields fewer input splits than shuffle partitions (the
    testbed's single-row-group files), repartition on `key` so the
    downstream per-row work (shingling, tokenizing, chunk hashing)
    uses every core. On a real multi-split lake the gate does not
    fire and no gratuitous full shuffle is added. inputFiles() is a
    driver-side metadata call (no job); it undercounts splits for
    huge files (maxPartitionBytes splits those further), which only
    errs toward keeping parallelism. Single source of the heuristic —
    shingle_df, the corpus tokenizers, and the quality operators all
    route through here, so a future tuning change lands everywhere."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    df = load(spark, sf_dir, name)
    if len(df.inputFiles()) < n_part:
        df = df.repartition(n_part, key)
    return df
