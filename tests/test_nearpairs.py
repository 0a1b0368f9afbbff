"""The near-dup pair kernel (operators/nearpairs.py) and its DuckDB
twins on a hand-built corpus, against Python set arithmetic: a shingle
three documents share, a document that shares nothing, a text too
short to shingle and an empty text."""

from __future__ import annotations

import itertools

import duckdb
import pytest
from pyspark.sql import functions as F

from bigdata_project_spark.operators import nearpairs
from bigdata_project_spark.operators.dedup import _SQL_SHINGLES, SHINGLE_N, shingle_df

_SHARED = "the quick brown fox jumps"  # one shingle in docs 1, 2 and 3
_DOCS = [
    (1, f"{_SHARED} over the lazy dog"),
    (2, f"{_SHARED} over the lazy cat today"),
    (3, f"yesterday {_SHARED} again"),
    (4, "nothing here repeats in any other document at all"),
    (5, "too short"),
    (6, ""),
]


def _shingles(text: str) -> set[str]:
    w = text.lower().split()
    return {" ".join(w[i : i + SHINGLE_N]) for i in range(len(w) - SHINGLE_N + 1)}


_SH = {d: _shingles(t) for d, t in _DOCS}


def _common(a: int, b: int) -> int:
    return len(_SH[a] & _SH[b])


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("nearpairs")
    spark.createDataFrame(_DOCS, "doc_id long, text string").coalesce(1).write.parquet(
        str(d / "documents.parquet")
    )
    return str(d)


def test_pair_kernel_matches_set_arithmetic(spark, corpus):
    ids = [d for d, _ in _DOCS]
    undirected = {(a, b): _common(a, b) for a, b in itertools.combinations(ids, 2) if _common(a, b)}
    directed = {(a, b): _common(a, b) for a, b in itertools.permutations(ids, 2) if _common(a, b)}
    # the fixture's shape: one shingle in three docs, a doc that shares
    # nothing, two docs with no shingle at all
    assert {(1, 2), (1, 3), (2, 3)} <= undirected.keys()
    assert not any(4 in p for p in undirected) and _SH[4]
    assert not _SH[5] and not _SH[6]
    # doc 4 shares nothing, so its candidate pairs drop out in verify
    cand = [(1, 2), (1, 4), (2, 3), (4, 5)]
    verified = {p: _common(*p) for p in cand if _common(*p)}

    sh = shingle_df(spark, corpus)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))

    def rows(df, *cols):
        return {(r["doc_a"], r["doc_b"]): tuple(r[c] for c in cols) for r in df.collect()}

    assert rows(nearpairs.overlap(sh), "n_common") == {p: (n,) for p, n in undirected.items()}
    assert rows(nearpairs.overlap(sh, directed=True), "n_common") == {p: (n,) for p, n in directed.items()}
    cand_df = spark.createDataFrame(cand, "doc_a long, doc_b long")
    assert rows(nearpairs.verify(cand_df, sh), "n_common") == {p: (n,) for p, n in verified.items()}

    def scored(a: int, b: int) -> tuple:
        union = len(_SH[a] | _SH[b])
        return (_common(a, b), union, _common(a, b) / union)

    got = rows(nearpairs.jaccard(nearpairs.overlap(sh), counts), "n_common", "n_union", "jaccard")
    assert got == {p: scored(*p) for p in undirected}

    # the twins, on the same parquet
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{corpus}/documents.parquet/*.parquet'")
    con.execute(f"CREATE TABLE cand AS SELECT * FROM (VALUES {', '.join(map(str, cand))}) t(doc_a, doc_b)")

    def twin(*ctes: str, select: str = "doc_a, doc_b, n_common", last: str = "inter"):
        sql = f"WITH {_SQL_SHINGLES}, {', '.join(ctes)} SELECT {select} FROM {last}"
        return {(r[0], r[1]): tuple(r[2:]) for r in con.sql(sql).fetchall()}

    assert twin(nearpairs.sql_overlap("sh")) == {p: (n,) for p, n in undirected.items()}
    assert twin(nearpairs.sql_overlap("sh", directed=True)) == {p: (n,) for p, n in directed.items()}
    assert twin(nearpairs.sql_verify("sh")) == {p: (n,) for p, n in verified.items()}
    got = twin(
        nearpairs.sql_overlap("sh"),
        nearpairs.sql_jaccard("doc_counts"),
        select="doc_a, doc_b, n_common, n_union, jaccard",
        last="pairs",
    )
    assert got == {p: scored(*p) for p in undirected}


def test_candidates_pair_docs_that_share_a_band(spark):
    """A pair is a candidate once however many bands it shares, only
    within its own key (the tuning sweep's configuration), and only
    when band and band key both agree."""
    rows = [
        ("x", 1, 0, "k"), ("x", 2, 0, "k"), ("x", 1, 1, "m"), ("x", 2, 1, "m"),  # 1~2 twice
        ("x", 3, 1, "k"),  # same key as 1 and 2, other band
        ("y", 3, 0, "k"),  # same band and key as 1 and 2, other config
        ("y", 4, 0, "k"),
    ]
    bands = spark.createDataFrame(rows, "config string, doc_id long, band int, band_key string")
    want = {("x", 1, 2), ("y", 3, 4)}
    got = {tuple(r) for r in nearpairs.candidates(bands, "config").collect()}
    assert got == want
    con = duckdb.connect()
    con.execute(f"CREATE TABLE bands AS SELECT * FROM (VALUES {', '.join(map(str, rows))}) t(config, doc_id, band, band_key)")
    twin = {tuple(r) for r in con.sql(f"WITH {nearpairs.sql_candidates('bands', 'config')} SELECT * FROM cand").fetchall()}
    assert twin == want
    # without the key, band 0's "k" bucket holds all four docs
    got = {tuple(r) for r in nearpairs.candidates(bands.drop("config")).collect()}
    assert got == set(itertools.combinations([1, 2, 3, 4], 2))
