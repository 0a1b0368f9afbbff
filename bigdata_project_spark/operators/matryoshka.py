"""Truncated-dimension (Matryoshka) ANN recall curve.

Matryoshka representation learning (Kusupati et al. 2022,
arXiv:2205.13147) trains embeddings whose PREFIXES are themselves
usable embeddings, so a retrieval stack can spend 16 of 64 dims on
the first pass and keep the rest for rerank. Whether that dial is
safe on a given corpus is an empirical question a pipeline answers
the same way it answers the nprobe question
(`sim_ivfpq_nprobe_curve`, operators/pq_residual.py): score recall@k
at each dimension budget against the full-dimension brute-force
truth, then read the curve before committing the cheaper scan.

`sim_recall_dim_curve` is the full dial — the CURVE a pipeline reads
to pick its budget, plus an in-band exactness self-check at the full
dimension. `sim_truncated_dim_recall` is its dim = 16 row, the single
truncation point read on its own.

This operator computes exact cosine top-k over the prefix slices
dims {16, 32, 64} in ONE corpus pass (the three prefix dot chains
share the scan; Catalyst subexpression elimination shares the common
prefix terms), ranks per (dim, query), and joins the per-dim top-10
against `sim_knn_bruteforce`'s 64-dim truth through `recall.at_k`. dim=64 reproduces the
truth metric bit-for-bit, so its recall row is exactly 1.0 — an
in-band self-check the driver hashes every round.

Determinism: each dim's cosine is its own left-associated
double-exact chain (the `similarity.py` contract), identical in the
Spark fold and the oracle SQL; ranks tie-break on vec_id.

Scale: the corpus side is one distributed scan against a broadcast
3-row query set — the same shape as `sim_knn_bruteforce`; no extra
shuffle for the extra dims (the three scores ride one projection).
At 100 TB the prefix scan reads dim*4 bytes/vector instead of 256 —
the first cost lever a vector pipeline pulls, which is why the curve
is worth a driver-checked query of its own.

Reference scope: [ext] — BASELINE north star (the reference has no
similarity surface; FAISS/ScaNN dimension-budget evals are the
public model).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from bigdata_project_spark.operators.recall import at_k, sql_at_k
from bigdata_project_spark.operators.similarity import (
    _QUERY_IDS,
    _TOP_K,
    sim_knn_bruteforce,
)
from bigdata_project_spark.operators.vecmath import dot, sql_dot
from bigdata_project_spark.registry import REGISTRY, query
from bigdata_project_spark.tables import load

_DIMS = (16, 32, 64)


_SQL_PREFIX_NORMED = f"""
    pnormed AS (
        SELECT vec_id, embedding,
               {sql_dot('embedding', 'embedding', 16)} AS n16,
               {sql_dot('embedding', 'embedding', 32)} AS n32,
               {sql_dot('embedding', 'embedding', 64)} AS n64
        FROM embeddings
    )
"""

_SQL_DIM_RANKED = " UNION ALL ".join(
    f"""
    SELECT {d} AS dim, query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos{d} DESC, vec_id) AS rank
    FROM ppairs"""
    for d in _DIMS
)


@query(
    "sim_recall_dim_curve",
    oracle=f"""
    WITH {_SQL_PREFIX_NORMED},
    ppairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               CASE WHEN q.n16 > 0 AND c.n16 > 0 THEN
                    ({sql_dot('q.embedding', 'c.embedding', 16)})
                      / (SQRT(q.n16) * SQRT(c.n16)) ELSE 0.0 END AS cos16,
               CASE WHEN q.n32 > 0 AND c.n32 > 0 THEN
                    ({sql_dot('q.embedding', 'c.embedding', 32)})
                      / (SQRT(q.n32) * SQRT(c.n32)) ELSE 0.0 END AS cos32,
               CASE WHEN q.n64 > 0 AND c.n64 > 0 THEN
                    ({sql_dot('q.embedding', 'c.embedding', 64)})
                      / (SQRT(q.n64) * SQRT(c.n64)) ELSE 0.0 END AS cos64
        FROM pnormed q JOIN pnormed c ON c.vec_id <> q.vec_id
        WHERE q.vec_id IN {_QUERY_IDS}
    ),
    topd AS (
        SELECT dim, query_id, vec_id AS neighbor_id FROM ({_SQL_DIM_RANKED})
        WHERE rank <= {_TOP_K}
    )
    {sql_at_k(REGISTRY["sim_knn_bruteforce"].oracle, "SELECT * FROM topd", _TOP_K, ("dim", _DIMS))}
    """,
    tags=("similarity", "llm", "eval", "matryoshka"),
)
def sim_recall_dim_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 at embedding-prefix budgets {16, 32, 64} dims vs the
    64-dim brute-force truth, per query — the dimension-budget dial
    beside the nprobe dial. dim=64 is the truth metric itself, so its
    row reads exactly 1.0 (driver-hashed self-check). Module
    docstring has the one-scan plan and the 100 TB bytes/vector
    story."""
    return _dim_recall(spark, sf_dir, _DIMS)


def _dim_recall(spark: SparkSession, sf_dir: str, dims: tuple[int, ...]) -> DataFrame:
    """(dim, query_id, n_hits, recall) at each prefix budget in `dims`,
    from one scan."""
    emb = load(spark, sf_dir, "embeddings")
    pn = emb.select(
        "vec_id",
        "embedding",
        *[
            dot(F.slice("embedding", 1, d), F.slice("embedding", 1, d)).alias(f"n{d}")
            for d in dims
        ],
    )
    q = pn.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        *[F.col(f"n{d}").alias(f"qn{d}") for d in dims],
    )
    pairs = pn.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    # zero-norm prefix guard (cosine defined as 0.0): an all-zero
    # 16-dim prefix is plausible even when the full vector isn't, and
    # an unguarded /0 diverges cross-engine (Spark NULL vs DuckDB
    # inf)
    per_dim = F.array(
        *[
            F.struct(
                F.lit(d).alias("dim"),
                F.when(
                    (F.col(f"qn{d}") > 0) & (F.col(f"n{d}") > 0),
                    dot(F.slice("q_embedding", 1, d), F.slice("embedding", 1, d))
                    / (F.sqrt(f"qn{d}") * F.sqrt(f"n{d}")),
                )
                .otherwise(F.lit(0.0))
                .alias("cos"),
            )
            for d in dims
        ]
    )
    scored = pairs.select(
        "query_id", "vec_id", F.explode(per_dim).alias("o")
    ).select("query_id", "vec_id", F.col("o.dim").alias("dim"), F.col("o.cos").alias("cos"))
    w = W.partitionBy("dim", "query_id").orderBy(F.desc("cos"), "vec_id")
    topd = (
        scored.select("dim", "query_id", "vec_id", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= _TOP_K)
        .select("dim", "query_id", F.col("vec_id").alias("neighbor_id"))
    )
    return at_k(sim_knn_bruteforce(spark, sf_dir), topd, _TOP_K, ("dim", dims))


_TRUNC_DIM = 16


@query(
    "sim_truncated_dim_recall",
    oracle=f"""
    SELECT query_id, n_hits, recall
    FROM ({REGISTRY["sim_recall_dim_curve"].oracle}) WHERE dim = {_TRUNC_DIM}
    """,
    tags=("similarity", "llm", "eval", "matryoshka"),
)
def sim_truncated_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of cosine search over only the FIRST 16 of the 64
    dimensions against the full-dimension brute-force truth, per
    query: the dim = 16 row of sim_recall_dim_curve, computed by the
    curve's scan with that one budget. Truncated-prefix retrieval is
    the standard cheap first stage (a 16-dim scan moves a quarter of
    the bytes and flops at 100 TB), and this is what the truncation
    costs. On generic embeddings the prefix is not information-dense,
    so recall is expected to be mediocre; with MRL-trained vectors the
    same query is the shipping gate."""
    return _dim_recall(spark, sf_dir, (_TRUNC_DIM,)).select("query_id", "n_hits", "recall")
