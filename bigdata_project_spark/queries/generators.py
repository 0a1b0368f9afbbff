"""Row-generating operators (SURVEY.md §2.8 array family + §2.10
UDTF-adjacent built-ins): explode/posexplode/explode_outer over
arrays, inline over struct arrays, stack for unpivoting — the
built-in 1-row->N-rows surface that covers most UDTF use cases
without leaving the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.operators.dedup import words_col
from bigdata_project_spark.registry import query
from bigdata_project_spark.tables import load


@query(
    "generator_posexplode_embedding_head",
    oracle="""
    SELECT vec_id, r.r AS pos, CAST(embedding[r.r + 1] AS DOUBLE) AS val
    FROM embeddings, LATERAL (SELECT unnest(range(8)) AS r) r
    WHERE vec_id % 25 = 0
    """,
    tags=("generator", "array"),
)
def generator_posexplode_embedding_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: array -> (position, value) rows (first 8 dims)."""
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 25 == 0)
    return e.select("vec_id", F.posexplode(F.slice("embedding", 1, 8)).alias("pos", "val")).select(
        "vec_id", "pos", F.col("val").cast("double").alias("val")
    )


@query(
    "generator_explode_outer_empty",
    oracle="""
    SELECT doc_id, t.token
    FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0 THEN []
                    ELSE list_distinct(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))
               END AS toks
        FROM documents WHERE doc_id % 5 = 0
    ) d
    LEFT JOIN LATERAL (SELECT unnest(d.toks) AS token) t ON TRUE
    """,
    tags=("generator", "array"),
)
def generator_explode_outer_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with empty arrays survive as (id, NULL) —
    the outer variant the plain explode silently drops."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    toks = F.when(F.col("doc_id") % 10 == 0, F.array().cast("array<string>")).otherwise(
        F.array_distinct(words_col(F.col("text")))
    )
    return d.select("doc_id", F.explode_outer(toks).alias("token"))


@query(
    "generator_stack_unpivot",
    oracle="""
    SELECT c_custkey, metric, val FROM (
        SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
        UNION ALL
        SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
    ) WHERE c_custkey % 8 = 0
    """,
    tags=("generator", "unpivot"),
)
def generator_stack_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stack (unpivot): wide columns -> (metric, value) rows — the
    inverse of pivot_status_by_priority."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 8 == 0)
    return c.select(
        "c_custkey",
        F.expr("stack(2, 'acctbal', c_acctbal, 'nationkey', CAST(c_nationkey AS DOUBLE)) AS (metric, val)"),
    )


@query(
    "generator_inline_struct_array",
    oracle="""
    SELECT o_orderkey, part AS label, amount
    FROM (
        SELECT o_orderkey, 'base' AS part, o_totalprice AS amount FROM orders
        UNION ALL
        SELECT o_orderkey, 'half', o_totalprice * 0.5 FROM orders
    ) WHERE o_orderkey % 40 = 0
    """,
    tags=("generator", "struct"),
)
def generator_inline_struct_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inline: explode an array of structs into columns."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 40 == 0)
    structs = F.array(
        F.struct(F.lit("base").alias("label"), F.col("o_totalprice").alias("amount")),
        F.struct(F.lit("half").alias("label"), (F.col("o_totalprice") * 0.5).alias("amount")),
    )
    return o.select("o_orderkey", F.inline(structs))


@query(
    "generator_unpivot_native",
    oracle="""
    SELECT s_suppkey, metric, val FROM (
        SELECT s_suppkey, 'acctbal' AS metric, s_acctbal AS val FROM supplier
        UNION ALL
        SELECT s_suppkey, 'nationkey', CAST(s_nationkey AS DOUBLE) FROM supplier
    )
    """,
    tags=("generator", "unpivot"),
)
def generator_unpivot_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native DataFrame.unpivot (melt) — the API-level inverse of
    pivot, alongside the SQL stack() form above."""
    s = load(spark, sf_dir, "supplier").withColumn("nk_d", F.col("s_nationkey").cast("double"))
    return (
        s.select("s_suppkey", F.col("s_acctbal").alias("acctbal"), F.col("nk_d").alias("nationkey"))
        .unpivot("s_suppkey", ["acctbal", "nationkey"], "metric", "val")
    )
