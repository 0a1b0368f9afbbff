"""Recall@k: the one path from a ground-truth top-k and a found top-k
to per-query recall, the number that says whether an ANN index ships
(the FAISS-style evaluation of IVF, PQ, graph, LSH and truncated-dim
search against exact brute force).

    at_k(truth, found, k)  -> (query_id, n_hits, recall)

`truth` holds (query_id, vec_id), each query's exact neighbours.
`found` holds (*level, query_id, neighbor_id), what a search returned,
at most one row per key: a duplicate row would count its hit twice.
Recall is a left join from truth, so a query whose search found none
of its neighbours keeps its row with n_hits = 0, and a found row of a
query that truth does not hold is ignored.

`levels=(col, values)` scores one search at several operating points
(a curve over nprobe or the embedding dimension): truth is repeated
once per integer value, `found` carries `col`, and a level with no
found rows scores 0 for every query.

`sql_at_k` is the DuckDB twin the oracles are built from. It nests the
truth and search oracles, as SQL text, as subqueries.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def at_k(
    truth: DataFrame,
    found: DataFrame,
    k: int,
    levels: tuple[str, tuple[int, ...]] | None = None,
) -> DataFrame:
    """(*level, query_id, n_hits INT, recall DOUBLE), recall =
    n_hits / k, one row per truth query (and level)."""
    keys = [] if levels is None else [levels[0]]
    t = truth.select("query_id", "vec_id")
    if levels is not None:
        col, values = levels
        # a generator, not a join against a levels relation: no
        # broadcast job
        t = t.select("*", F.explode(F.array(*[F.lit(v) for v in values])).alias(col))
    f = found.select(
        *[F.col(c).alias(f"i_{c}") for c in keys],
        F.col("query_id").alias("i_qid"),
        F.col("neighbor_id").alias("i_vid"),
    )
    on = [F.col(c) == F.col(f"i_{c}") for c in keys] + [
        F.col("query_id") == F.col("i_qid"),
        F.col("vec_id") == F.col("i_vid"),
    ]
    return (
        t.join(f, functools.reduce(operator.and_, on), "left_outer")
        .groupBy(*keys, "query_id")
        .agg(
            F.count("i_vid").cast("int").alias("n_hits"),
            (F.count("i_vid") / float(k)).alias("recall"),
        )
    )


def sql_at_k(
    truth_sql: str,
    found_sql: str,
    k: int,
    levels: tuple[str, tuple[int, ...]] | None = None,
) -> str:
    """The twin of `at_k`: a SELECT over the query `truth_sql` (query_id,
    vec_id) and the query `found_sql` (*level, query_id, neighbor_id).
    Either may be a full WITH statement or a SELECT over the CTEs of an
    enclosing WITH."""
    lv, cross, on = "", "", ""
    if levels is not None:
        col, values = levels
        lv = f"d.{col}, "
        cross = f"\n    CROSS JOIN (VALUES {', '.join(f'({v})' for v in values)}) d({col})"
        on = f"i.{col} = d.{col} AND "
    return f"""
    SELECT {lv}b.query_id,
           CAST(COUNT(i.neighbor_id) AS INT) AS n_hits,
           COUNT(i.neighbor_id) / {k}.0 AS recall
    FROM ({truth_sql}) b{cross}
    LEFT JOIN ({found_sql}) i
      ON {on}b.query_id = i.query_id AND b.vec_id = i.neighbor_id
    GROUP BY {lv}b.query_id
    """
