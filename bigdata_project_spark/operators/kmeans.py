"""Trained IVF coarse quantizer — deterministic Lloyd k-means
(round 13).

Every IVF-family query so far inherits the testbed `label` column as
its coarse cells (pq.py, similarity.py); real FAISS TRAINS the coarse
quantizer (`IndexFlatL2` centroids fit by k-means, Jegou et al. 2011
§III-A). This module closes that structural residue: k = 10 centroids
(the label-cell count, so the recall comparison is same-k fair) are
trained by 2 unrolled Lloyd iterations in unit space and the whole
ANN stack — cell assignment, nprobe=2 probe, in-cell exact top-5 —
is re-run on the LEARNED cells. tests/test_kmeans.py pins
recall(trained) >= recall(label) at nprobe=2.

Determinism (the registry's cross-engine contract):
- init: the k vectors with the lexicographically lowest
  md5(CAST(vec_id AS STRING)) hex digest (vec_id tiebreak) — a
  deterministic stand-in for random init that both engines compute
  identically; cid 0..k-1 follows the same hash order.
- assignment: squared-L2 in unit space (`vecmath.sqdist`); ties
  break on cid.
- update: the FLOOR quantized mean (`vecmath.centroids`), so both
  engines derive bit-identical centroids. A cell that loses every
  member keeps its previous centroid (COALESCE), keeping k stable.
- iterations are UNROLLED (fixed 2), not convergence-looped: the
  fixpoint is data-dependent and a `while` over `.count()` would put
  the driver in the loop (`clustering.py` documents the same
  discipline). Two iterations from hash init already beat the
  metadata cells on this corpus — measured, not assumed.

Scale: each Lloyd iteration is (a) one broadcast of the k x 64
centroid table against the corpus scan — map-side, no shuffle on the
corpus — and (b) one map-side-combinable groupBy(cid, dim) over
exploded assignments. Seed selection is a distributed top-k
(sort+limit = TakeOrdered), not a global window. This is exactly how
k-means runs on a 1000-executor cluster; more iterations add linear
cost, and k grows only the broadcast table.

Reference scope: [ext] — the reference (CrawlData.py) has no vector
layer; BASELINE north-star similarity pillar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from bigdata_project_spark.operators.pq import _pq_unit, _sql_unit
from bigdata_project_spark.operators.recall import at_k, sql_at_k
from bigdata_project_spark.operators.similarity import (
    DIM,
    _QUERY_IDS,
    _TOP_K,
    sim_knn_bruteforce,
)
from bigdata_project_spark.operators.vecmath import (
    FLOOR,
    SQL_QN,
    argmin_encode,
    centroids,
    dot,
    sql_dot,
    sql_qsum,
    sql_sqdist,
    sqdist,
)
from bigdata_project_spark.registry import REGISTRY, query

_K = 10  # same cell count as the label-derived IVF for a fair eval
_ITERS = 2  # unrolled Lloyd iterations (see module docstring)
_NPROBE = 2  # trained cells each query searches


def _sql_assign(name: str, cent: str, keep_dist: bool = False) -> str:
    """CTE: argmin cell per vector against `cent` (cid tiebreak)."""
    dist = ", dist" if keep_dist else ""
    return f"""
    {name} AS MATERIALIZED (
        SELECT vec_id, cid{dist} FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cid) AS arn
            FROM (SELECT un.vec_id, c.cid,
                         ({sql_sqdist("un.u", "c.c_arr", DIM)}) AS dist
                  FROM unit un, {cent} c)
        ) WHERE arn = 1
    )"""


def _sql_update(asg: str, prev: str, new: str) -> str:
    """CTEs: quantized-BIGINT mean per assigned cell, COALESCEd over
    the previous centroids so empty cells persist."""
    return f"""
    {new}_m AS MATERIALIZED (
        SELECT a.cid, d.d AS d,
               {sql_qsum('un.u[d.d + 1]', FLOOR)}
                 / {SQL_QN} AS m
        FROM {asg} a JOIN unit un USING (vec_id),
             LATERAL (SELECT unnest(range({DIM})) AS d) d
        GROUP BY a.cid, d.d
    ),
    {new}_arr AS MATERIALIZED (
        SELECT cid, list(m ORDER BY d) AS m_arr FROM {new}_m GROUP BY cid
    ),
    {new} AS MATERIALIZED (
        SELECT c.cid, COALESCE(m.m_arr, c.c_arr) AS c_arr
        FROM {prev} c LEFT JOIN {new}_arr m USING (cid)
    )"""


def _sql_kmeans_prelude() -> str:
    """unit -> md5-seeded cent0 -> 2 unrolled Lloyd iterations ->
    final assignment `afin` (vec_id, cid, dist) against cent2."""
    parts = [
        _sql_unit(),
        f"""
    useed AS MATERIALIZED (
        SELECT vec_id, u,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS STRING)), vec_id) AS rn
        FROM unit
    ),
    cent0 AS MATERIALIZED (
        SELECT rn - 1 AS cid, u AS c_arr FROM useed WHERE rn <= {_K}
    )""",
    ]
    prev = "cent0"
    for i in range(1, _ITERS + 1):
        parts.append(_sql_assign(f"a{i}", prev))
        parts.append(_sql_update(f"a{i}", prev, f"cent{i}"))
        prev = f"cent{i}"
    parts.append(_sql_assign("afin", prev, keep_dist=True))
    return ",\n".join(parts)


_SQL_KM_PRELUDE = f"WITH {_sql_kmeans_prelude()}"

# (query_id, cell): each query's _NPROBE nearest trained centroids
# (`_km_qprobe`'s twin; ivfpq_trained probes with it too)
_SQL_KM_QPROBE = f"""
    qprobe AS MATERIALIZED (
        SELECT query_id, cid AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY dist, cid) AS arn
            FROM (SELECT un.vec_id AS query_id, c.cid,
                         ({sql_sqdist("un.u", "c.c_arr", DIM)}) AS dist
                  FROM unit un, cent{_ITERS} c
                  WHERE un.vec_id IN {_QUERY_IDS})
        ) WHERE arn <= {_NPROBE}
    )"""

# nprobe=2 probe of the trained centroids + exact in-cell top-5 —
# sim_ann_ivf_nprobe2's shape on learned cells (unit-dot cosine)
_SQL_KM_SEARCH = f"""{_SQL_KM_QPROBE},
    kcand AS (
        SELECT p.query_id, a.vec_id,
               ({sql_dot("qu.u", "nu.u", DIM)}) AS cosine
        FROM qprobe p
        JOIN afin a ON a.cid = p.cell AND a.vec_id <> p.query_id
        JOIN unit qu ON qu.vec_id = p.query_id
        JOIN unit nu ON nu.vec_id = a.vec_id
    )
"""


def _km_assign(unit: DataFrame, cent: DataFrame, keep_dist: bool = False) -> DataFrame:
    """(vec_id, cid[, dist]): argmin cell against the broadcast
    centroid table — map-side over the corpus scan, one
    partial-aggregated argmin instead of a window (the oracle keeps
    the window SQL)."""
    scored = unit.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cid", sqdist("u", "c_arr").alias("dist")
    )
    best = argmin_encode(scored, ["vec_id"], "cid")
    return best if keep_dist else best.select("vec_id", "cid")


def _km_qprobe(unit: DataFrame, cent: DataFrame) -> DataFrame:
    """(query_id, cell): each query's _NPROBE nearest trained
    centroids by unit-space squared L2 (cid tiebreak)."""
    qp = (
        unit.filter(F.col("vec_id").isin(*_QUERY_IDS))
        .crossJoin(F.broadcast(cent))
        .select(F.col("vec_id").alias("query_id"), "cid", sqdist("u", "c_arr").alias("dist"))
    )
    wq = W.partitionBy("query_id").orderBy("dist", "cid")
    return (
        qp.select("*", F.row_number().over(wq).alias("arn"))
        .filter(F.col("arn") <= _NPROBE)
        .select("query_id", F.col("cid").alias("cell"))
    )


def _km_update(unit: DataFrame, asg: DataFrame, prev: DataFrame) -> DataFrame:
    """(cid, c_arr): quantized-BIGINT mean per assigned cell,
    coalesced over the previous centroids (empty cells persist)."""
    means = centroids(asg.join(unit, "vec_id"), ["cid"], "u", FLOOR)
    return (
        prev.withColumnRenamed("c_arr", "old_arr")
        .join(means, "cid", "left_outer")
        .select("cid", F.coalesce("c_arr", "old_arr").alias("c_arr"))
    )


def _km_trained(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(cent, unit): the trained centroid table after _ITERS Lloyd
    iterations, plus the persisted unit relation it was fit on."""
    from bigdata_project_spark.caching import tracked_persist

    unit = tracked_persist(_pq_unit(spark, sf_dir).select("vec_id", "u"))
    seeded = unit.select(
        "vec_id", "u", F.md5(F.col("vec_id").cast("string")).alias("h")
    ).orderBy("h", "vec_id").limit(_K)
    w10 = W.orderBy("h", "vec_id")
    cent = seeded.select(
        (F.row_number().over(w10) - 1).alias("cid"), F.col("u").alias("c_arr")
    )
    for _ in range(_ITERS):
        asg = _km_assign(unit, cent)
        cent = tracked_persist(_km_update(unit, asg, cent))
    return cent, unit


@query(
    "sim_ivf_trained_cells",
    oracle=f"""
    {_SQL_KM_PRELUDE}
    SELECT vec_id, cid AS cell, dist FROM afin
    """,
    tags=("similarity", "llm", "ann", "ivf", "kmeans", "training"),
)
def sim_ivf_trained_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained coarse quantizer's cell assignment: every vector's
    nearest of the k=10 Lloyd-trained centroids, with its squared-L2
    distance in unit space. This is the relation an IVF index
    PARTITIONS BY at 100 TB — the value-oracled assignment (ids AND
    distances) proves both engines derived bit-identical centroids
    through seed selection, two assign->quantized-mean rounds, and
    the final argmin."""
    cent, unit = _km_trained(spark, sf_dir)
    return _km_assign(unit, cent, keep_dist=True).select(
        "vec_id", F.col("cid").alias("cell"), "dist"
    )


@query(
    "sim_ivf_trained_search",
    oracle=f"""
    {_SQL_KM_PRELUDE},
    {_SQL_KM_SEARCH}
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rank
        FROM kcand
    ) WHERE rank <= 5
    """,
    tags=("similarity", "llm", "ann", "ivf", "kmeans", "topk"),
)
def sim_ivf_trained_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over the TRAINED cells at nprobe=2 — exactly
    sim_ann_ivf_nprobe2's pipeline shape (2 probed cells, exact
    in-cell top-5) with learned geometry instead of the metadata
    label: queries rank the k centroids by unit-space L2 (FAISS's
    IndexFlatL2 coarse stage), candidates are the vectors ASSIGNED to
    the two nearest cells, and only those are exactly scored. The
    recall eval below measures what training buys over the label
    cells at identical k and probe budget."""
    cent, unit = _km_trained(spark, sf_dir)
    asg = _km_assign(unit, cent)
    probe = _km_qprobe(unit, cent)
    qu = unit.select(F.col("vec_id").alias("q_vid"), F.col("u").alias("q_u"))
    nu = unit.select(F.col("vec_id").alias("n_vid"), F.col("u").alias("n_u"))
    cand = (
        asg.join(F.broadcast(probe), F.col("cid") == F.col("cell"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(qu), F.col("query_id") == F.col("q_vid"))
        .join(nu, F.col("vec_id") == F.col("n_vid"))
        .select("query_id", "vec_id", dot("q_u", "n_u").alias("cosine"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return cand.select("*", F.row_number().over(w).alias("rank")).filter(
        F.col("rank") <= 5
    )


@query(
    "sim_recall_ivf_trained_at_k",
    oracle=sql_at_k(
        REGISTRY["sim_knn_bruteforce"].oracle,
        f"SELECT query_id, vec_id AS neighbor_id FROM ({REGISTRY['sim_ivf_trained_search'].oracle})",
        _TOP_K,
    ),
    tags=("similarity", "llm", "eval", "ivf", "kmeans"),
)
def sim_recall_ivf_trained_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the trained-cell IVF search vs brute force — read
    against sim_recall_ivf2_at_k (label cells, same k=10 cells, same
    nprobe=2, same in-cell top-5): the delta is what Lloyd training
    buys over partitioning by corpus metadata.
    tests/test_kmeans.py pins trained >= label in aggregate at two
    SFs."""
    km = sim_ivf_trained_search(spark, sf_dir).withColumnRenamed("vec_id", "neighbor_id")
    return at_k(sim_knn_bruteforce(spark, sf_dir), km, _TOP_K)
