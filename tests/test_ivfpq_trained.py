"""Fully-trained IVF-PQ stack (operators/ivfpq_trained.py) quality
properties. The oracle gate proves codes + ADC through BOTH training
loops; these pin the comparative claims:

- at the test SFs the composed trained index's recall@10 >= the
  label-cell residual index's at identical k / nprobe / bytes
  (sf0.001: 4 vs 4; sf0.01: 7 vs 5 measured). The sf0.1 reversal is
  documented in the recall query's docstring — both stacks sit in
  the 4-byte quantization-noise floor there, and the coarse stage's
  (pinned) advantage does not survive it without the refine stage.
- the trained index is a genuinely different encoding: a substantial
  share of vectors get different residual codes than the label-cell
  residual index assigns (different cells -> different residuals).
"""

from __future__ import annotations

import pytest

SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def _hits(df):
    return {r["query_id"]: r["n_hits"] for r in df.collect()}


@pytest.mark.parametrize("sf", SFS)
def test_trained_stack_recall_ge_label_stack(spark, sf):
    from bigdata_project_spark.registry import all_queries

    qs = all_queries()
    tr = _hits(qs["sim_recall_ivfpq_trained_at_k"](spark, sf))
    lb = _hits(qs["sim_recall_ivfpq_residual_at_k"](spark, sf))
    assert set(tr) == set(lb)
    assert sum(tr.values()) >= sum(lb.values()), (tr, lb)


def test_trained_codes_differ_from_label_codes(spark, sf_dir):
    from bigdata_project_spark.caching import tracked_persist
    from bigdata_project_spark.operators.kmeans import _km_assign, _km_trained
    from bigdata_project_spark.operators.pq import _pq_codebook, _pq_encode
    from bigdata_project_spark.operators.pq_residual import _res_subs, _res_unit
    from bigdata_project_spark.operators.vecmath import FLOOR, centroids
    from pyspark.sql import functions as F

    # label-cell residual codes
    unit_l = _res_unit(spark, sf_dir)
    ucent_l = tracked_persist(centroids(unit_l, ["label"], "u", FLOOR))
    subs_l = tracked_persist(_res_subs(unit_l, ucent_l))
    label_codes = {
        r["vec_id"]: (r["c0"], r["c1"], r["c2"], r["c3"])
        for r in _pq_encode(subs_l, _pq_codebook(subs_l), ["vec_id", "label"]).collect()
    }
    # trained-cell residual codes
    cent, unit = _km_trained(spark, sf_dir)
    afin = _km_assign(unit, cent)
    ucent_t = tracked_persist(cent.select(F.col("cid").alias("label"), "c_arr"))
    unitl = unit.join(afin, "vec_id").select(
        "vec_id", F.col("cid").alias("label"), "u"
    )
    subs_t = tracked_persist(_res_subs(unitl, ucent_t))
    trained_codes = {
        r["vec_id"]: (r["c0"], r["c1"], r["c2"], r["c3"])
        for r in _pq_encode(subs_t, _pq_codebook(subs_t), ["vec_id", "label"]).collect()
    }
    assert set(label_codes) == set(trained_codes)
    differing = sum(1 for v in label_codes if label_codes[v] != trained_codes[v])
    assert differing >= len(label_codes) // 4, (
        f"only {differing}/{len(label_codes)} codes differ"
    )
