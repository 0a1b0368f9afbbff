"""Random-hyperplane LSH: the one path from an embedding to its bucket
key, for banded and multi-probe ANN, embedding-cosine dedup and the
SemDeDup sub-cells.

    signs(band, planes)               -> md5 sign rows, plane:{j}:{i}
    bucket(vec, band, planes)         -> '0'/'1' string, one bit a plane
    band_buckets(vec, bands, planes)  -> array of bands 0..bands-1
    planes(n, load_log2, lo, hi)      -> clamp(ceil(log2 n) - load, lo, hi)

A plane's bit is '1' when the embedding projects non-negatively onto
it. The signs are md5 constants fixed at plan build, never RNG state,
so both engines see the same planes. Band b owns the planes
j = b * BAND_STRIDE + p, so a band's first P planes are the same for
every P: the P-plane bucket is the prefix of a wider one. BAND_STRIDE
is also the plane cap. 16 planes hold the mean bucket load of a
load_log2 = 2 band to 4 vectors up to about 2^18 vectors; raising the
cap changes the stride, so bands 1 and up would get other planes.

Sizing: bucket width follows the corpus, P = clamp(ceil(log2 n) -
load_log2, lo, hi), so the expected bucket load stays near
2^load_log2 as n grows. `max(n, 2)` keeps log2 defined on an empty or
one-row corpus.

`sql_bucket` and `sql_planes` are the DuckDB twins the oracles are
built from. `sql_bucket` folds each plane with `list_reduce`, which
starts from the first product t1, where `vecmath.dot` starts from
0.0. The two sums can differ only when t1 is -0.0 (0.0 + -0.0 is
+0.0), and then only in the sign of a zero sum; `>= 0` is true for
both zeros, so the bits are equal. `vecmath.sql_dot` stays unrolled
because a cosine shows the sign of its zero. A NULL projection gives
no bit in either engine: `array_join` and `array_to_string` skip it.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from bigdata_project_spark.operators.vecmath import dot

DIM = 64  # the embeddings table's vector width
BAND_STRIDE = 16


def signs(band: int, planes: int) -> list[list[int]]:
    """The first `planes` sign rows of `band`, each DIM entries of -1
    or 1."""
    rows = []
    for p in range(planes):
        j = band * BAND_STRIDE + p
        digests = (hashlib.md5(f"plane:{j}:{i}".encode()).hexdigest() for i in range(DIM))
        rows.append([-1 if int(h[0], 16) < 8 else 1 for h in digests])
    return rows


def _rows(rows: list[list[int]]) -> Column:
    return F.array(*[F.array(*[F.lit(float(s)) for s in row]) for row in rows])


def _bits(vec: str, rows: Column) -> Column:
    def bit(signs: Column) -> Column:
        return (dot(vec, signs) >= 0).cast("int").cast("string")

    return F.array_join(F.transform(rows, bit), "")


def bucket(vec: str, band: int, planes: int) -> Column:
    """The `planes`-bit bucket of the array column `vec` in `band`; ''
    for no planes."""
    if planes == 0:
        return F.lit("")
    return _bits(vec, _rows(signs(band, planes)))


def band_buckets(vec: str, bands: int, planes: int) -> Column:
    """array(bucket(vec, 0, planes), ..., bucket(vec, bands - 1,
    planes)) as one higher-order expression over one literal sign
    matrix, so the fold appears once in the plan, not once a band."""
    rows = _rows([row for b in range(bands) for row in signs(b, planes)])
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: _bits(vec, F.slice(rows, b * planes + 1, planes)),
    )


def sql_bucket(vec: str, band: int, planes: int | str) -> str:
    """The twin of `bucket` over the first `planes` of the band's
    BAND_STRIDE planes; `planes` is an int or the name of an INT
    column."""
    rows = f"({signs(band, BAND_STRIDE)}::DOUBLE[][])[1:{planes}]".replace(" ", "")
    terms = f"list_transform(range(1, {DIM + 1}), i -> CAST({vec}[i] AS DOUBLE) * s[i])"
    bit = f"CAST(CAST(list_reduce({terms}, (x, y) -> x + y) >= 0 AS INT) AS VARCHAR)"
    # array_to_string of an empty list is NULL; array_join's is ''
    return f"COALESCE(array_to_string(list_transform({rows}, s -> {bit}), ''), '')"


def planes(n: int, load_log2: int, lo: int, hi: int) -> int:
    """clamp(ceil(log2(max(n, 2))) - load_log2, lo, hi)."""
    return max(lo, min(hi, math.ceil(math.log2(max(n, 2))) - load_log2))


def sql_planes(relation: str, load_log2: int, lo: int, hi: int, alias: str) -> str:
    """The twin of `planes` over COUNT(*) of `relation`: a one-row
    SELECT of the INT column `alias`."""
    return (
        f"SELECT GREATEST({lo}, LEAST({hi}, CAST(CEIL(LOG2(GREATEST(COUNT(*), 2))) AS INT)"
        f" - {load_log2})) AS {alias} FROM {relation}"
    )
