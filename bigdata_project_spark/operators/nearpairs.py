"""Near-dup pairs: the one path from a (doc_id, shingle) relation to
scored document pairs (Broder 1997, 'On the resemblance and
containment of documents').

Pairs come in by one of two ways:

    overlap(sh)                              -> (doc_a, doc_b, n_common)
    candidates(bands) -> verify(cand, sh)    -> (doc_a, doc_b, n_common)

and `jaccard` scores either against the per-doc shingle counts. The
exact path is the shingle self-join; the MinHash-LSH path joins band
rows instead, so the pair step becomes a plain equi-join on
(band, band_key) and only the colliding pairs have their overlap
counted. Callers build their own shingle sets, signatures and band
keys; the joins and the pair arithmetic live here.

Each step has a DuckDB twin that the oracles are built from, as CTEs
over the same names: a shingle relation -> `inter` (doc_a, doc_b,
n_common) -> `pairs` (+ n_union, jaccard), and band rows -> `cand`.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def overlap(sh: DataFrame, directed: bool = False) -> DataFrame:
    """(doc_a, doc_b, n_common): every pair of documents of `sh`
    (doc_id, shingle) that share a shingle, with the number they share.
    An unordered pair appears once, doc_a < doc_b (Jaccard); with
    `directed` both orders appear, doc_a != doc_b (containment, whose
    score depends on which side is the contained one)."""
    a, b = sh.alias("a"), sh.alias("b")
    if directed:
        other = F.col("a.doc_id") != F.col("b.doc_id")
    else:
        other = F.col("a.doc_id") < F.col("b.doc_id")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & other)
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )


def verify(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_common) for the pairs of `cand` (doc_a, doc_b)
    only: each candidate meets doc_a's shingles on doc_id, then doc_b's
    on (doc_id, shingle). A candidate that shares no shingle drops out."""
    sa, sb = sh.alias("sa"), sh.alias("sb")
    return (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, (F.col("sb.doc_id") == F.col("doc_b")) & (F.col("sb.shingle") == F.col("sa.shingle")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )


def jaccard(pairs: DataFrame, counts: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_common, n_union, jaccard): `pairs` (doc_a,
    doc_b, n_common) joined to `counts` (doc_id, n_sh) at both ends.
    The union size is integer; jaccard is its one double division."""
    ca, cb = counts.alias("ca"), counts.alias("cb")
    n_union = F.col("ca.n_sh") + F.col("cb.n_sh") - F.col("n_common")
    return (
        pairs.join(ca, F.col("ca.doc_id") == F.col("doc_a"))
        .join(cb, F.col("cb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            n_union.alias("n_union"),
            (F.col("n_common").cast("double") / n_union).alias("jaccard"),
        )
    )


def candidates(bands: DataFrame, *keys: str) -> DataFrame:
    """(*keys, doc_a, doc_b): the distinct pairs doc_a < doc_b whose
    rows of `bands` (*keys, doc_id, band, band_key) agree on the keys,
    the band and its key. `keys` are the columns the candidates are
    found per, such as the tuning sweep's band configuration."""
    a, b = bands.alias("a"), bands.alias("b")
    same = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in (*keys, "band", "band_key")]
    return (
        a.join(b, functools.reduce(operator.and_, same) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            *[F.col(f"a.{k}") for k in keys],
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


# ---------------------------------------------------------- DuckDB twins


def sql_overlap(sh: str, directed: bool = False) -> str:
    """The twin of `overlap`: CTE `inter` (doc_a, doc_b, n_common) over
    a (doc_id, shingle) CTE named `sh`."""
    other = "<>" if directed else "<"
    return f"""
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM {sh} a JOIN {sh} b ON a.shingle = b.shingle AND a.doc_id {other} b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )"""


def sql_verify(sh: str) -> str:
    """The twin of `verify`: CTE `inter` over `cand` and a (doc_id,
    shingle) CTE named `sh`."""
    return f"""
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN {sh} sa ON sa.doc_id = c.doc_a
        JOIN {sh} sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
        GROUP BY c.doc_a, c.doc_b
    )"""


def sql_jaccard(counts: str) -> str:
    """The twin of `jaccard`: CTE `pairs` (doc_a, doc_b, n_common,
    n_union, jaccard) over `inter` and a (doc_id, n_sh) CTE named
    `counts`."""
    return f"""
    pairs AS (
        SELECT i.doc_a, i.doc_b, i.n_common,
               ca.n_sh + cb.n_sh - i.n_common AS n_union,
               CAST(i.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - i.n_common) AS jaccard
        FROM inter i
        JOIN {counts} ca ON ca.doc_id = i.doc_a
        JOIN {counts} cb ON cb.doc_id = i.doc_b
    )"""


def sql_candidates(bands: str, *keys: str) -> str:
    """The twin of `candidates`: CTE `cand` (*keys, doc_a, doc_b) over
    a (*keys, doc_id, band, band_key) CTE named `bands`."""
    same = " AND ".join(f"a.{k} = b.{k}" for k in (*keys, "band", "band_key"))
    per = "".join(f"a.{k}, " for k in keys)
    return f"""
    cand AS (
        SELECT DISTINCT {per}a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM {bands} a JOIN {bands} b ON {same} AND a.doc_id < b.doc_id
    )"""
