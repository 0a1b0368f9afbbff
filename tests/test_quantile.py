"""Quantile sketch (operators/quantile.py) properties.

The oracle gate proves the store, the audit, and the streamed form
bit-exactly against the SQL replay; these pin what the hash can't:

- the sketch's CONTRACT holds: every decile's exact rank value lies
  inside the located bucket (contained = 1) and the realized
  relative width never exceeds the a-priori 1/16 bound;
- the store respects its fixed size bound at every scale;
- value-level containment: every input value lands inside its own
  bucket's [lo, hi] (the mapping, not just the probed deciles);
- MERGEABILITY is exact: two disjoint-split partial sketches merged
  by adding counts equal the one-shot sketch row for row — the
  property the streaming form's oracle share rests on;
- the streamed audit reproduces the batch audit and consumed the
  expected number of micro-batches.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigdata_project_spark.tables import load

SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


@pytest.mark.parametrize("sf", SFS)
def test_audit_contract(spark, sf):
    from bigdata_project_spark.registry import all_queries

    rows = all_queries()["agg_quantile_sketch_audit"](spark, sf).collect()
    assert len(rows) == 9
    for r in rows:
        assert r["contained"] == 1, r
        assert r["max_rel_err"] <= 1 / 16 + 1e-12, r
        assert r["lo_cents"] <= r["exact_cents"] <= r["hi_cents"], r


def test_store_bound_and_value_containment(spark, sf_dir):
    from bigdata_project_spark.operators.quantile import (
        _IDX_SPARK,
        _cents,
        _hist_counts,
        _with_bounds,
    )

    cents = _cents(load(spark, sf_dir, "lineitem"))
    hist = _with_bounds(_hist_counts(cents))
    assert hist.count() <= 976
    joined = cents.select("v", F.expr(_IDX_SPARK).alias("idx")).join(
        hist.select("idx", "lo_cents", "hi_cents"), "idx"
    )
    outside = joined.filter(
        (F.col("v") < F.col("lo_cents")) | (F.col("v") > F.col("hi_cents"))
    ).count()
    assert outside == 0


def test_merge_equals_one_shot(spark, sf_dir):
    from bigdata_project_spark.operators.quantile import _cents, _hist_counts

    cents = _cents(load(spark, sf_dir, "lineitem"))
    full = {r["idx"]: r["cnt"] for r in _hist_counts(cents).collect()}
    a = _hist_counts(cents.filter(F.col("v") % 2 == 0))
    b = _hist_counts(cents.filter(F.col("v") % 2 != 0))
    merged = {
        r["idx"]: r["cnt"]
        for r in a.unionByName(b)
        .groupBy("idx")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .collect()
    }
    assert merged == full


def test_stream_reproduces_batch_audit(spark, sf_dir):
    from bigdata_project_spark.operators.quantile import run_quantile_stream
    from bigdata_project_spark.registry import all_queries

    streamed, n_batches = run_quantile_stream(spark, sf_dir, n_chunks=3)
    assert n_batches == 3
    batch = all_queries()["agg_quantile_sketch_audit"](spark, sf_dir)
    s = sorted(tuple(r) for r in streamed.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert s == b
