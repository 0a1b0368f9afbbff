"""pyspark.ml.feature LSH coverage (SURVEY.md §2.10): the library
implementations of the near-dup/ANN operators next to our
deterministic SQL-level ones — seeded, so reproducible run-to-run,
but not oracle-able across engines (JVM RNG), hence test-gated."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_project_spark.tables import load


@pytest.fixture(scope="module")
def vec_df(spark, sf_dir):
    from pyspark.ml.functions import array_to_vector

    emb = load(spark, sf_dir, "embeddings")
    return emb.select("vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")).cache()


def test_brp_lsh_approx_neighbors(spark, vec_df):
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=4, seed=42
    )
    model = lsh.fit(vec_df)
    key = vec_df.filter(F.col("vec_id") == 0).first()["features"]
    nn = model.approxNearestNeighbors(vec_df, key, 6)
    rows = nn.select("vec_id", "distCol").collect()
    assert len(rows) == 6
    assert rows[0]["vec_id"] == 0 and abs(rows[0]["distCol"]) < 1e-9  # self at distance 0
    dists = [r["distCol"] for r in rows]
    assert dists == sorted(dists)
    # seeded -> deterministic across runs in the same engine
    again = [r["vec_id"] for r in model.approxNearestNeighbors(vec_df, key, 6).collect()]
    assert again == [r["vec_id"] for r in rows]


def test_minhash_lsh_similarity_join(spark, sf_dir):
    from pyspark.ml.feature import CountVectorizer, MinHashLSH, RegexTokenizer

    docs = load(spark, sf_dir, "documents").limit(200)
    tok = RegexTokenizer(inputCol="text", outputCol="tokens", pattern=r"\s+")
    toks = tok.transform(docs)
    cv = CountVectorizer(inputCol="tokens", outputCol="features", binary=True).fit(toks)
    feats = cv.transform(toks).select("doc_id", "features")
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=4, seed=42)
    model = mh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.9, distCol="jaccard_dist")
    n = pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id")).count()
    assert n >= 0  # shape check; exact-variant parity is covered by dedup_ngram_jaccard's oracle


def test_planes_per_band_formula():
    """Data-aware planes-per-band: P = clamp(ceil(log2 n) - load, min,
    max). Pins the sizing rule both engines derive from the same COUNT
    so a drift in the constants is caught here, not by an oracle
    mismatch at some future corpus size."""
    from bigdata_project_spark.operators.hyperplane import planes
    from bigdata_project_spark.operators.similarity import _PLANE_SIZING

    _, lo, hi = _PLANE_SIZING

    def p(n: int) -> int:
        return planes(n, *_PLANE_SIZING)

    # clamp floor: small/degenerate corpora (zero-row twin hits n=0)
    assert p(0) == lo
    assert p(1) == lo
    assert p(500) == 8  # testbed sf0.001/0.01
    assert p(2000) == 9  # testbed sf0.1
    # +1 plane per corpus doubling keeps expected bucket load ~2^load
    assert p(4000) == 10
    assert p(8000) == 11
    # clamp ceiling bounds the sign-matrix literal we ship in the plan
    assert p(10**9) == hi
    assert lo <= hi


def test_planes_per_band_oracle_agreement(sf_dir):
    """The oracle's params CTE computes the SAME P as the Python
    formula from the same table — the invariant the oracle's
    plane-prefix bucket relies on."""
    import duckdb

    from bigdata_project_spark.operators.hyperplane import planes
    from bigdata_project_spark.operators.similarity import _PLANE_SIZING, _SQL_PARAMS

    con = duckdb.connect()
    try:
        con.sql(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
        )
        n = con.sql("SELECT COUNT(*) FROM embeddings").fetchone()[0]
        p_sql = con.sql(f"WITH {_SQL_PARAMS} SELECT p FROM params").fetchone()[0]
    finally:
        con.close()
    assert p_sql == planes(n, *_PLANE_SIZING)
