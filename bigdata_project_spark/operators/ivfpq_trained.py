"""The complete trained FAISS stack: Lloyd coarse quantizer +
residual PQ + per-(query, cell) ADC (round 13).

Round 12 built residual IVF-PQ on the testbed's label cells; round
13's `kmeans.py` trained the coarse quantizer. This module composes
them into exactly what `faiss.IndexIVFPQ` ships: vectors are
assigned to TRAINED centroids (2 unrolled Lloyd iterations, md5
seed), each vector's residual v - centroid(cell(v)) — against the
trained centroid itself, not a re-derived cell mean, FAISS's
semantics — is product-quantized to 4 code bytes, and the query
probes its 2 nearest trained cells with one M x 16 residual LUT per
(query, cell).

Everything reuses the already-oracled machinery verbatim —
`kmeans.py`'s training CTEs/builders, `pq_residual.py`'s residual
subvector/codebook/encode stages and the pivoted-map ADC join —
with only the cell SOURCE swapped from metadata to learned geometry.
That reuse is the point: a production index swaps its coarse stage
without touching the fine stage.

Determinism: inherited — every stage is the quantized-BIGINT-mean /
left-associated-chain discipline of its parent module, so codes and
ADC scores are value-oracled end to end through BOTH training loops
(the coarse k-means AND the residual codebook).

Scale: the trained centroid table (k x 64) and codebook (64 rows)
broadcast; assignment and encode are map-side over the corpus scan;
the search reads 4 bytes per candidate in nprobe/k of the corpus.
Identical dataflow to pq_residual.py — training the coarse stage
changes WHERE vectors land, not what shuffles.

Reference scope: [ext] — the reference (CrawlData.py) has no vector
layer; BASELINE north-star similarity pillar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.operators.kmeans import (
    _ITERS,
    _SQL_KM_QPROBE,
    _km_assign,
    _km_qprobe,
    _km_trained,
    _sql_kmeans_prelude,
)
from bigdata_project_spark.operators.pq import _pq_codebook, _pq_encode
from bigdata_project_spark.operators.pq_residual import (
    _SQL_RLUT,
    _SQL_RSUBS,
    _res_search_tail,
    _res_subs,
)
from bigdata_project_spark.operators.recall import at_k, sql_at_k
from bigdata_project_spark.operators.similarity import (
    DIM,
    _QUERY_IDS,
    _TOP_K,
    sim_knn_bruteforce,
)
from bigdata_project_spark.registry import REGISTRY, query


# SQL: kmeans prelude (unit, cent{_ITERS}, afin) -> ucent/resid in the
# shapes pq_residual's verbatim CTEs expect -> qprobe over trained
# centroids -> the shared residual LUT + ranked tail
_SQL_TRES_BRIDGE = f"""
    ucent AS MATERIALIZED (SELECT cid AS label, c_arr FROM cent{_ITERS}),
    resid AS MATERIALIZED (
        SELECT a.vec_id, a.cid AS label,
               list_transform(range({DIM}), i -> un.u[i + 1] - ct.c_arr[i + 1]) AS rv
        FROM afin a
        JOIN unit un USING (vec_id)
        JOIN ucent ct ON ct.label = a.cid
    )
"""

_SQL_TRES_PRELUDE = (
    f"WITH {_sql_kmeans_prelude()},\n{_SQL_TRES_BRIDGE},\n{_SQL_RSUBS},\n"
    f"{_SQL_KM_QPROBE},\n{_SQL_RLUT}"
)


def _trained_res_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, adc, rnk): pq_residual's search with
    the cell source swapped to the trained quantizer."""
    from bigdata_project_spark.caching import tracked_persist

    cent, unit = _km_trained(spark, sf_dir)
    afin = _km_assign(unit, cent)
    ucent = tracked_persist(cent.select(F.col("cid").alias("label"), "c_arr"))
    unitl = unit.join(afin, "vec_id").select(
        "vec_id", F.col("cid").alias("label"), "u"
    )
    subs = tracked_persist(_res_subs(unitl, ucent))
    cb = tracked_persist(_pq_codebook(subs))
    codes = _pq_encode(subs, cb, ["vec_id", "label"])
    probe = _km_qprobe(unit, cent)
    qu = unit.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("q_u")
    )
    return _res_search_tail(qu, ucent, codes, cb, probe)


@query(
    "sim_ivfpq_trained",
    oracle=f"""
    {_SQL_TRES_PRELUDE}
    SELECT query_id, neighbor_id, adc, rnk
    FROM rranked WHERE rnk <= {_TOP_K}
    """,
    tags=("similarity", "llm", "ann", "pq", "ivf", "kmeans", "residual", "topk"),
)
def sim_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search with BOTH stages trained — Lloyd coarse cells +
    residual codebooks — at nprobe=2, raw ADC: the shipped FAISS
    IndexIVFPQ composition. Value-oracled through both training
    loops; the recall eval below reads against the label-cell
    residual search (sim_recall_ivfpq_residual_at_k) at identical k,
    nprobe, and byte budget, isolating what coarse training buys the
    COMPOSED index."""
    return _trained_res_ranked(spark, sf_dir).filter(F.col("rnk") <= _TOP_K)


@query(
    "sim_recall_ivfpq_trained_at_k",
    oracle=sql_at_k(
        REGISTRY["sim_knn_bruteforce"].oracle,
        REGISTRY["sim_ivfpq_trained"].oracle,
        _TOP_K,
    ),
    tags=("similarity", "llm", "eval", "pq", "ivf", "kmeans", "residual"),
)
def sim_recall_ivfpq_trained_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the fully-trained IVF-PQ stack vs brute force —
    the headline number for the composed index.
    tests/test_ivfpq_trained.py pins it >= the label-cell residual
    search's recall at sf0.001/sf0.01 (4 vs 4, 7 vs 5 hits) and that
    the trained index's codes genuinely differ. MEASURED caveat, not
    hidden: at sf0.1 the composition reverses (0 vs 2 of 30) — with
    2000 vectors in 10 cells both stacks sit in the
    quantization-noise floor (raw ADC recall <=7%), where the coarse
    stage's better cells (15 vs 7 hits EXACT in-cell,
    sim_recall_ivf_trained_at_k) cannot survive 4-byte code noise;
    the production fix is the refine stage, whose label-cell variant
    (sim_ivfpq_residual_rerank) already demonstrates the recovery."""
    return at_k(sim_knn_bruteforce(spark, sf_dir), sim_ivfpq_trained(spark, sf_dir), _TOP_K)
