"""Residual IVF-PQ + nprobe-curve (operators/pq_residual.py) quality
properties.

The oracle gate proves the residual codes, the per-(query, cell) LUT
search, and the curve table bit-exactly against the SQL replay;
these pin what the hash can't:

- residual encoding EARNS its place: aggregate recall@10 of the
  residual-code ADC search >= the raw-code ADC search at the same
  nprobe=2 and the same 4-byte/vector budget (the FAISS IVF-PQ
  claim, measured on the deterministic testbed at two scale
  factors). Aggregate, not per-query: with a 16-codeword budget a
  single query can wobble either way, and the honest statement is
  the corpus-level one.
- the nprobe curve is monotone: per query, refined recall@10 never
  drops as nprobe grows 1 -> 2 -> 4, and the candidate volume grows
  with every added cell. With the curve's proportional refine
  budget (shortlist = 100 x nprobe) covering the whole candidate
  pool at test scale — asserted, not assumed — each level's refined
  top-10 is the EXACT top-10 of its pool, and pools nest by
  construction, so monotonicity is a theorem here (a fixed-100
  shortlist demonstrably broke it: nprobe=4 crowded a hit out).
- the curve is CONSISTENT with the registered operating points: its
  nprobe=1 row reproduces sim_recall_ivfpq_rerank_at_k (identical
  budget by construction) and its nprobe=2 row reproduces
  sim_recall_ivfpq_nprobe2_at_k at test scale (both shortlists
  cover the pool there) — one shared-scan query, trustworthy points.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def _hits(df):
    return {r["query_id"]: r["n_hits"] for r in df.collect()}


@pytest.mark.parametrize("sf", SFS)
def test_residual_recall_dominates_raw_at_same_bytes(spark, sf):
    from bigdata_project_spark.operators.pq import _ivfpq_adc_ranked, _recall_join
    from bigdata_project_spark.operators.pq_residual import _RES_NPROBE
    from bigdata_project_spark.operators.similarity import _TOP_K, sim_knn_bruteforce
    from bigdata_project_spark.registry import all_queries

    bf = sim_knn_bruteforce(spark, sf).select("query_id", "vec_id")
    raw = (
        _ivfpq_adc_ranked(spark, sf, nprobe=_RES_NPROBE)
        .filter(F.col("rnk") <= _TOP_K)
        .select(F.col("query_id").alias("i_qid"), F.col("neighbor_id").alias("i_vid"))
    )
    raw_hits = _hits(_recall_join(bf, raw))
    res_hits = _hits(
        all_queries()["sim_recall_ivfpq_residual_at_k"](spark, sf)
    )
    assert set(raw_hits) == set(res_hits)
    assert sum(res_hits.values()) >= sum(raw_hits.values()), (res_hits, raw_hits)


def test_nprobe_curve_monotone_recall_and_cost(spark, sf_dir):
    from bigdata_project_spark.registry import all_queries

    rows = all_queries()["sim_ivfpq_nprobe_curve"](spark, sf_dir).collect()
    by_q: dict[int, dict[int, tuple[int, int]]] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], {})[r["nprobe"]] = (
            r["n_hits"],
            r["n_candidates"],
        )
    assert set(len(v) for v in by_q.values()) == {3}
    for q, pts in by_q.items():
        for np_, (_h, ncand) in pts.items():
            # the proportional shortlist covers the pool at this
            # scale, which is what makes monotonicity a theorem below
            assert ncand <= 100 * np_, (q, np_, ncand)
        for lo, hi in ((1, 2), (2, 4)):
            assert pts[hi][0] >= pts[lo][0], (q, pts)
            assert pts[hi][1] > pts[lo][1], (q, pts)


def test_nprobe_curve_consistent_with_registered_points(spark, sf_dir):
    from bigdata_project_spark.registry import all_queries

    qs = all_queries()
    curve = qs["sim_ivfpq_nprobe_curve"](spark, sf_dir).collect()
    np1 = {r["query_id"]: r["n_hits"] for r in curve if r["nprobe"] == 1}
    np2 = {r["query_id"]: r["n_hits"] for r in curve if r["nprobe"] == 2}
    assert np1 == _hits(qs["sim_recall_ivfpq_rerank_at_k"](spark, sf_dir))
    assert np2 == _hits(qs["sim_recall_ivfpq_nprobe2_at_k"](spark, sf_dir))


@pytest.mark.parametrize("sf", SFS)
def test_residual_rerank_dominates_adc_and_hits_cell_ceiling(spark, sf):
    """Refine can only help (shortlist contains the ADC top-10 —
    theorem), and with the shortlist covering both probed cells at
    test scale the refined residual stack must land exactly on the
    2-cell ceiling, i.e. equal the refined RAW stack per query: the
    residual advantage is pre-refine, the ceiling is the cell
    stage's alone."""
    from bigdata_project_spark.registry import all_queries

    qs = all_queries()
    rr = _hits(qs["sim_recall_ivfpq_residual_rerank_at_k"](spark, sf))
    adc = _hits(qs["sim_recall_ivfpq_residual_at_k"](spark, sf))
    raw2 = _hits(qs["sim_recall_ivfpq_nprobe2_at_k"](spark, sf))
    assert set(rr) == set(adc) == set(raw2)
    for q in rr:
        assert rr[q] >= adc[q], (q, rr, adc)
        assert rr[q] == raw2[q], (q, rr, raw2)


def test_residual_codes_differ_from_raw_codes(spark, sf_dir):
    """The residual index is a genuinely different encoding, not a
    relabeling: at sf0.01 a substantial share of vectors get a
    different 4-byte code than the raw-vector index assigns."""
    from bigdata_project_spark.registry import all_queries

    qs = all_queries()
    raw = {
        r["vec_id"]: (r["c0"], r["c1"], r["c2"], r["c3"])
        for r in qs["sim_pq_codes"](spark, sf_dir).collect()
    }
    from bigdata_project_spark.caching import tracked_persist
    from bigdata_project_spark.operators.pq import _pq_codebook, _pq_encode, _pq_unit
    from bigdata_project_spark.operators.pq_residual import _res_subs
    from bigdata_project_spark.operators.vecmath import FLOOR, centroids

    unit = _pq_unit(spark, sf_dir, keep=("vec_id", "label"))
    ucent = tracked_persist(centroids(unit, ["label"], "u", FLOOR))
    subs = tracked_persist(_res_subs(unit, ucent))
    codes = _pq_encode(subs, _pq_codebook(subs), ["vec_id", "label"])
    res = {
        r["vec_id"]: (r["c0"], r["c1"], r["c2"], r["c3"]) for r in codes.collect()
    }
    assert set(raw) == set(res)
    differing = sum(1 for v in raw if raw[v] != res[v])
    assert differing >= len(raw) // 4, f"only {differing}/{len(raw)} codes differ"
