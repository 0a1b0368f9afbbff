"""The hyperplane-LSH kernel (operators/hyperplane.py): the sizing rule
and the Spark bucket against its DuckDB twin."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from bigdata_project_spark.operators.hyperplane import (
    BAND_STRIDE,
    DIM,
    band_buckets,
    bucket,
    planes,
    signs,
    sql_bucket,
)
from bigdata_project_spark.operators.semdedup import _SUBCELL_SIZING
from bigdata_project_spark.operators.similarity import _PLANE_SIZING


def test_planes_sizing_rule():
    """P = clamp(ceil(log2 n) - load, lo, hi) for the banded-ANN planes
    (2, 8, 16) and the SemDeDup sub-cells (9, 0, 16). Pins the rule
    both engines derive from the same count, so a drift in the
    constants is caught here, not by an oracle mismatch at some future
    corpus size."""
    load_log2, lo, hi = _PLANE_SIZING

    def p(n: int) -> int:
        return planes(n, *_PLANE_SIZING)

    # clamp floor: small/degenerate corpora (the zero-row twin has n=0)
    assert p(0) == p(1) == lo == 8
    assert p(500) == 8  # testbed sf0.001/0.01
    assert p(2_000) == 11 - load_log2 == 9  # testbed sf0.1
    # +1 plane per corpus doubling keeps expected bucket load ~2^load
    assert p(4_000) == 10
    assert p(8_000) == 13 - load_log2 == 11
    # the cap is the band stride, reached at 2^18 vectors
    assert p(2**18) == p(10**9) == hi == BAND_STRIDE
    assert p(2**18 - 1) == p(2**17 + 1) == BAND_STRIDE
    vals = [p(n) for n in (2, 10, 100, 10_000, 10**6, 10**9)]
    assert vals == sorted(vals)
    assert lo <= hi and load_log2 >= 0

    def q(n: int) -> int:
        return planes(n, *_SUBCELL_SIZING)

    assert q(0) == q(500) == 0  # label cells only at sf0.001/0.01
    assert q(2_000) == 2  # sf0.1
    assert q(16_000) == 5
    assert q(10**9) == BAND_STRIDE


def _vectors() -> list[list[float]]:
    """Random vectors, both zero vectors, and per band 0 and 3 one
    vector whose projection onto the band's first plane sums to
    exactly 0 (and starts with a -0.0 product): the cases where
    Spark's fold from 0.0 and DuckDB's list_reduce from t1 differ in
    the sign of a zero sum, which `>= 0` must not see."""
    rng = np.random.default_rng(18)
    vecs = [[float(x) for x in rng.standard_normal(DIM).astype(np.float32)] for _ in range(6)]
    vecs += [[0.0] * DIM, [-0.0] * DIM]
    for band in (0, 3):
        s = signs(band, 1)[0]
        v = [0.0] * DIM
        v[0] = -0.0 * s[0]  # t1 = -0.0
        v[1], v[2] = 0.5 * s[1], -0.5 * s[2]
        vecs.append(v)
    return vecs


@pytest.mark.parametrize("band", [0, 3])
@pytest.mark.parametrize("p", [0, 4, 16])
def test_bucket_matches_sql_twin(spark, band, p):
    vecs = _vectors()
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = dict(df.select("vec_id", bucket("embedding", band, p).alias("b")).collect())

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE embeddings(vec_id BIGINT, embedding FLOAT[])")
        con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
        lit, col = (
            dict(con.sql(f"SELECT vec_id, {sql} FROM embeddings, (SELECT {p} AS p)").fetchall())
            for sql in (sql_bucket("embedding", band, p), sql_bucket("embedding", band, "p"))
        )
    finally:
        con.close()

    assert got == lit == col
    assert all(len(b) == p and set(b) <= {"0", "1"} for b in got.values())
    for i in (6, 7):  # +0.0 and -0.0 project to a zero: every bit is 1
        assert got[i] == "1" * p
    if p:
        # the exact-zero projection onto the band's first plane reads 1
        assert got[8 if band == 0 else 9][0] == "1"
        # the 16-plane bucket is BAND_STRIDE wide; a smaller P is its prefix
        wide = dict(df.select("vec_id", bucket("embedding", band, BAND_STRIDE)).collect())
        assert all(wide[i][:p] == got[i] for i in got)
        # the multi-band form agrees with the single band
        multi = dict(df.select("vec_id", band_buckets("embedding", 4, p)).collect())
        assert all(multi[i][band] == got[i] for i in got)
