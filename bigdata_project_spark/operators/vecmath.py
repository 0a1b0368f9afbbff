"""Exact vector-math kernels shared by every vector family.

Similarity search, LSH, IVF, PQ, k-means, SemDeDup and hybrid
retrieval all rest on the same five kernels: a dot product, a
squared-L2 distance, a quantized centroid mean, an argmin encoder and
a nearest-cell assign. Each has one Spark implementation here and, where
an oracle needs it, one SQL twin, so the driver's DuckDB hash sees the
same arithmetic term for term.

Exactness contract (what makes Spark and DuckDB agree bit for bit):

- **Left fold from 0.0.** `dot` and `sqdist` are `aggregate(zip_with)`
  folds that start at 0.0 and add one term at a time. 0.0 + t1 == t1,
  so the sum is the SQL twin's left-associated `t1 + t2 + ... + tn`
  chain in the same order. Double addition is not associative
  ([1e16, 1.0, -1e16, 1.0] sums to 1.0 left to right, 0.0 pairwise),
  so the order is the contract. float32 * float32 is exact in double
  (24 + 24 <= 53 mantissa bits), so only the sum order matters. The
  higher-order form keeps generated code small: an unrolled 64-term
  expression costs seconds of janino compilation per plan.
- **The cast is elided on doubles.** `dot` casts both sides to double
  so one kernel serves float embeddings, double unit vectors and
  centroids, and literal sign arrays. Catalyst removes
  `cast(double AS double)` inside the lambda, so a double operand's
  plan is the same as with no cast; the SQL twin likewise casts both
  sides, which DuckDB treats as identity on a DOUBLE list.
- **The 2^-20 quantum.** A mean of doubles summed in double would
  depend on partition order. `qmean` and its SQL twin instead scale
  each element by 2^20, round it to an integer and sum BIGINTs, which
  is exact and order-free, then divide once in double, which both
  engines round correctly. The quantum is a power of two so the
  scaling multiply is exact and both engines round the same double.
  2^-20 is small against the vector components (|x| <= 1 for unit
  vectors) and leaves 2^43 rows of headroom before a sum of
  unit-range values could overflow BIGINT.
- **ROUND and FLOOR stay separate.** Raw embeddings (the IVF label
  centroids, SemDeDup cells, the retrieval centroid) use ROUND, half
  away from zero in both engines; unit and PQ vectors (k-means, the
  PQ codebooks, residual centroids) use FLOOR. Both rules have
  registered oracles whose values differ (ROUND(0.5) = 1 but
  FLOOR(0.5) = 0), so merging them would change shipped results.
  On a half quantum the two agree only below zero: ROUND(-2.5) =
  FLOOR(-2.5) = -3, never banker's -2.
- **min(struct) argmin.** `argmin_encode` takes the least
  `struct(dist, id)`: structs compare field by field, so equal
  distances break toward the smaller id, and Spark orders NaN above
  every double, so a NaN distance loses. The aggregate combines
  map-side, collapsing the candidate fan-out before the exchange. The
  oracles state the same rule as `ROW_NUMBER() OVER (ORDER BY dist,
  id)`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

ROUND = "ROUND"
FLOOR = "FLOOR"
_Q = 1048576  # 2^20


def dot(a: str | Column, b: str | Column) -> Column:
    """Left-fold double dot product of two array columns. Pass
    `F.slice` for a prefix or sub-vector, or a literal array for a
    sign projection."""
    products = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(products, F.lit(0.0), lambda acc, v: acc + v)


def sqdist(a: str | Column, b: str | Column) -> Column:
    """Left-fold squared L2 distance of two double array columns."""
    sq = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v)


def sql_dot(a: str, b: str, n: int, a_off: int = 0, b_off: int = 0) -> str:
    """SQL twin of `dot` over elements a[a_off+1..a_off+n] and
    b[b_off+1..b_off+n]."""
    return " + ".join(
        f"CAST({a}[{a_off + k}] AS DOUBLE) * CAST({b}[{b_off + k}] AS DOUBLE)"
        for k in range(1, n + 1)
    )


def sql_sqdist(a: str, b: str, n: int) -> str:
    """SQL twin of `sqdist` over the first n elements."""
    return " + ".join(
        f"({a}[{k}] - {b}[{k}]) * ({a}[{k}] - {b}[{k}])" for k in range(1, n + 1)
    )


def qmean(v: Column, rule: str) -> Column:
    """Quantized mean aggregate of one double per row: the BIGINT sum
    of ROUND- or FLOOR-quantized 2^-20 steps, divided once."""
    x = v.cast("double") * _Q
    q = F.round(x, 0) if rule == ROUND else F.floor(x)
    return F.sum(q.cast("long")).cast("double") / (float(_Q) * F.count("*"))


def sql_qsum(elem: str, rule: str) -> str:
    """SQL twin of `qmean`'s numerator over the element expression
    `elem`; the oracle divides it by `SQL_QN`. The two halves are
    separate so each oracle keeps its own line layout."""
    x = f"CAST({elem} AS DOUBLE) * {_Q}"
    q = f"ROUND({x}, 0)" if rule == ROUND else f"FLOOR({x})"
    return f"CAST(SUM(CAST({q} AS BIGINT)) AS DOUBLE)"


SQL_QN = f"({_Q}.0 * COUNT(*))"


def centroids(df: DataFrame, keys: Sequence[str], vec: str, rule: str) -> DataFrame:
    """(keys..., c_arr): the per-dimension quantized mean of the
    array column `vec` for each `keys` group, collapsed back to one
    array in dimension order."""
    dims = df.select(*keys, F.posexplode(vec).alias("pos", "val"))
    cdim = dims.groupBy(*keys, "pos").agg(qmean(F.col("val"), rule).alias("c"))
    return cdim.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("c_arr")
    )


def argmin_encode(
    scored: DataFrame, keys: Sequence[str], ident: str, slots: int | None = None
) -> DataFrame:
    """The `ident` of least `dist` per `keys` group of `scored`, as
    one min(struct(dist, ident)) aggregate.

    slots=None: one argmin per group -> (keys..., ident, dist).
    slots=M: the PQ code pivot. `scored` carries a subspace column `j`
    in 0..M-1 and each subspace gets its own argmin (the masked
    structs of other subspaces are NULL, which min skips) ->
    (keys..., c0..c{M-1})."""
    if slots is None:
        best = scored.groupBy(*keys).agg(F.min(F.struct("dist", ident)).alias("m"))
        return best.select(
            *keys, F.col(f"m.{ident}").alias(ident), F.col("m.dist").alias("dist")
        )
    return scored.groupBy(*keys).agg(
        *[
            F.min(F.when(F.col("j") == j, F.struct("dist", ident)))[ident].alias(f"c{j}")
            for j in range(slots)
        ]
    )


def nearest_cells(
    df: DataFrame, cent: DataFrame, vec: str, key: str, cell: str, n: int
) -> DataFrame:
    """The `n` nearest cells of each `key` row of `df` by cosine of
    `vec` against the broadcast centroid table `cent` (cell, c_arr);
    ties go to the smaller cell. Returns df's columns, `cell` and its
    rank `rn` (1 = nearest). The centroid side is #cells rows, so the
    cross join is a broadcast, never a corpus shuffle."""
    score = dot(vec, "c_arr") / F.sqrt(dot("c_arr", "c_arr"))
    scored = df.crossJoin(F.broadcast(cent)).select(*df.columns, cell, score.alias("score"))
    w = W.partitionBy(key).orderBy(F.desc("score"), cell)
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= n)
        .drop("score")
    )


def sql_cell_score(vec: str, n: int) -> str:
    """SQL twin of `nearest_cells`' score: cosine of `vec` to the
    centroid `c_arr` without the constant |vec| factor."""
    return f"({sql_dot(vec, 'c_arr', n)}) / SQRT({sql_dot('c_arr', 'c_arr', n)})"
