"""Contract tests for operators/vecmath.py: each Spark kernel agrees
with its SQL twin in DuckDB, and with a plain Python reference, on
inputs where a different sum order, rounding rule or tie-break would
give a different answer."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from bigdata_project_spark.operators.vecmath import (
    FLOOR,
    ROUND,
    SQL_QN,
    argmin_encode,
    centroids,
    dot,
    sql_dot,
    sql_qsum,
)

Q = 2.0**-20  # one quantum
# left to right this sums to 1.0; pairwise or right to left, 0.0
VEC = [1e16, 1.0, -1e16, 1.0]
ONES = [1.0, 1.0, 1.0, 1.0]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


def test_dot_is_the_left_fold_in_both_engines(spark, con):
    ref = 0.0
    for x, y in zip(VEC, ONES):
        ref += x * y
    assert ref == 1.0
    df = spark.createDataFrame(
        [(VEC, [7.0, *VEC], ONES)], "v array<double>, a array<double>, b array<double>"
    )
    row = df.select(dot("v", "b").alias("whole"), dot(F.slice("a", 2, 4), "b").alias("sub")).first()
    vecs = (
        f"SELECT {VEC}::DOUBLE[] AS v, [7.0, {', '.join(map(repr, VEC))}]::DOUBLE[] AS a,"
        f" {ONES}::DOUBLE[] AS b"
    )
    sql_whole, sql_sub = con.execute(
        f"SELECT {sql_dot('v', 'b', 4)}, {sql_dot('a', 'b', 4, a_off=1)} FROM ({vecs})"
    ).fetchone()
    # a[2..5] is VEC; read from offset 0, the leading 7.0 would change the sum
    assert row["whole"] == sql_whole == ref
    assert row["sub"] == sql_sub == ref


# dimension 0 holds -2.5 and +0.75 quanta, dimension 1 holds +0.5 twice.
# ROUND (half away from zero): -3 + 1 = -2 and 1 + 1 = 2 quanta over 2
# rows -> [-1, 1] quanta; banker's rounding would give [-0.5, 0].
# FLOOR: -3 + 0 = -3 and 0 + 0 = 0 -> [-1.5, 0] quanta.
ROWS = [[-2.5 * Q, 0.5 * Q], [0.75 * Q, 0.5 * Q]]
EXPECTED = {ROUND: [-1.0 * Q, 1.0 * Q], FLOOR: [-1.5 * Q, 0.0]}


@pytest.mark.parametrize("rule", [ROUND, FLOOR])
def test_quantized_mean_rule_in_both_engines(spark, con, rule):
    df = spark.createDataFrame([(0, v) for v in ROWS], "k int, v array<double>")
    spark_arr = centroids(df, ["k"], "v", rule).first()["c_arr"]
    rows = ", ".join(f"(0, [{a!r}, {b!r}]::DOUBLE[])" for a, b in ROWS)
    sql_arr = con.execute(
        f"""
        SELECT list(c ORDER BY pos) FROM (
            SELECT k, i.r AS pos, {sql_qsum('v[i.r + 1]', rule)} / {SQL_QN} AS c
            FROM (VALUES {rows}) t(k, v), LATERAL (SELECT unnest(range(2)) AS r) i
            GROUP BY k, i.r
        ) GROUP BY k
        """
    ).fetchone()[0]
    assert spark_arr == sql_arr == EXPECTED[rule]


# vec 1: a distance tie (cids 3 and 1) below a farther cell;
# vec 2: a NaN distance against a finite one
SCORED = [(1, 3, 0.5), (1, 1, 0.5), (1, 2, 0.7), (2, 0, float("nan")), (2, 5, 9.0)]


def test_argmin_ties_to_smaller_id_and_nan_loses(spark, con):
    df = spark.createDataFrame(SCORED, "vec_id int, cid int, dist double")
    got = {r["vec_id"]: r["cid"] for r in argmin_encode(df, ["vec_id"], "cid").collect()}
    assert got == {1: 1, 2: 5}
    # the oracles state the same rule as a window over (dist, id)
    rows = ", ".join(f"({v}, {c}, '{d}'::DOUBLE)" for v, c, d in SCORED)
    oracle = con.execute(
        f"""
        SELECT vec_id, cid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM (VALUES {rows}) t(vec_id, cid, dist)
        ) WHERE rn = 1
        """
    ).fetchall()
    assert dict(oracle) == got


def test_argmin_code_pivot_is_per_subspace(spark):
    # one vector, two subspaces j: a tie in j=0, a NaN in j=1
    scored = [(1, 0, 4, 1.0), (1, 0, 2, 1.0), (1, 1, 0, float("nan")), (1, 1, 7, 3.0)]
    df = spark.createDataFrame(scored, "vec_id int, j int, b int, dist double")
    row = argmin_encode(df, ["vec_id"], "b", 2).first()
    assert (row["c0"], row["c1"]) == (2, 7)
