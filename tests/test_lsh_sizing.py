"""Data-aware LSH sizing (`hyperplane.planes` with
similarity._PLANE_SIZING) under growth.

The 100 TB claim is that the derived planes-per-band P holds the mean
band-bucket load at ~2^load_log2 vectors as the corpus grows — so
within-bucket candidate pairs stay ~constant per vector and the
banded join never goes quadratic. The testbed tops out at 2,000
vectors (P clamps to the 8-plane minimum at sf0.001 and sf0.01), so
this is proved on a generator-built corpus 4x and 16x the sf0.1
vector count, where P derives above the clamp. The sizing rule is
also pinned, with the SemDeDup sub-cell sizing, in
tests/test_hyperplane.py.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pytest

from bigdata_project_spark.operators.hyperplane import planes, sql_bucket
from bigdata_project_spark.operators.similarity import _PLANE_SIZING

_LOAD_LOG2, _MIN_PLANES, _MAX_PLANES = _PLANE_SIZING


def test_planes_per_band_formula():
    """Clamp + derivation behavior across the regime boundaries."""

    def p(n: int) -> int:
        return planes(n, *_PLANE_SIZING)

    assert p(0) == _MIN_PLANES  # empty twin safe
    assert p(500) == _MIN_PLANES  # sf0.001/0.01 clamp
    assert p(2_000) == 11 - _LOAD_LOG2  # sf0.1 derives
    assert p(8_000) == 13 - _LOAD_LOG2  # ceil(log2 8000)=13
    assert p(10**9) == _MAX_PLANES  # cap
    # monotone non-decreasing in n
    vals = [p(n) for n in (2, 10, 100, 10_000, 10**6, 10**9)]
    assert vals == sorted(vals)


@pytest.mark.parametrize("n_vectors", [8_000, 32_000])
def test_derived_planes_hold_bucket_load_on_4x_corpus(tmp_path, n_vectors):
    """Generator-built corpus at 4x and 16x the sf0.1 vector count:
    with P = planes(n, *_PLANE_SIZING), the mean load of band-0
    buckets must stay within a small factor of the 2^LOAD target
    (random hyperplanes on near-isotropic data split close to evenly),
    i.e. per-vector candidate volume does NOT grow with n."""
    rng = np.random.default_rng(8)  # deterministic test corpus
    emb = rng.standard_normal((n_vectors, 64)).astype(np.float32)
    p = planes(n_vectors, *_PLANE_SIZING)
    assert p > _MIN_PLANES  # genuinely derived, not clamped

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE embeddings(vec_id BIGINT, embedding FLOAT[])")
        con.executemany(
            "INSERT INTO embeddings VALUES (?, ?)",
            [(i, emb[i].tolist()) for i in range(n_vectors)],
        )
        mean_load, max_load = con.sql(f"""
            WITH b AS (
                SELECT {sql_bucket('embedding', 0, p)} AS bucket
                FROM embeddings
            ),
            loads AS (SELECT bucket, COUNT(*) AS c FROM b GROUP BY bucket)
            SELECT AVG(c), MAX(c) FROM loads
        """).fetchone()
    finally:
        con.close()

    target = 2**_LOAD_LOG2
    # mean load ~target regardless of n: the whole point of deriving P
    assert mean_load <= 4 * target, (n_vectors, p, mean_load)
    # and the load did not grow linearly with the corpus (a FIXED
    # 8-plane P would give mean load ~n/256 = 31 and 125 here)
    assert mean_load < n_vectors / 2**_MIN_PLANES / 2, (n_vectors, p, mean_load)
    assert max_load < 50 * target, "pathologically hot bucket"
    assert math.ceil(math.log2(n_vectors)) - _LOAD_LOG2 == p
