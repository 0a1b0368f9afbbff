"""Hybrid retrieval: lexical x dense rank fusion (round 9).

A training-data pipeline retrieves with BOTH signals — BM25 for
lexical precision, embeddings for semantic recall — and fuses the
two ranked lists. Reciprocal Rank Fusion (Cormack et al., SIGIR'09:
score(d) = sum over lists of 1/(k + rank_d), k = 60) is the standard
fusion because it needs no score calibration between the lists, only
ranks — which makes it exactly reproducible cross-engine: both
engines produce bit-identical BM25 scores (log-free rational IDF,
`operators/text.py`) and bit-identical cosines (fixed-association
double chains, `operators/similarity.py`), ranks follow from total
orders on those, and 1/(60 + rank) on integer ranks divides
identically everywhere.

The dense query vector is the corpus centroid (integer-quantized
mean, exact cross-engine — the `semdedup` centroid discipline): a
deterministic stand-in for an encoder-produced query embedding. The
lexical query is text.py's fixed BM25 query ('data join stream').

Scale: each leg is a corpus scan reduced to a top-R ranked list
(TakeOrderedAndProject / 1-row broadcast stats), so the fusion join
is R x R rows — constant, independent of corpus size. At 100 TB the
legs are index probes (inverted postings / IVF cells, both in this
repo's surface) and the fusion cost does not change at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from bigdata_project_spark.operators.dedup import words_col
from bigdata_project_spark.operators.similarity import DIM, with_norm
from bigdata_project_spark.operators.text import (
    _BM25_SCORE,
    _BM25_TERMS,
    _SQL_DF,
    _SQL_TF,
    _tf_col,
)
from bigdata_project_spark.operators.vecmath import (
    ROUND,
    SQL_QN,
    centroids,
    dot,
    sql_dot,
    sql_qsum,
)
from bigdata_project_spark.registry import query
from bigdata_project_spark.tables import load

_RRF_K = 60  # Cormack et al.'s constant; rank damping, not a tunable here
_LIST_R = 50  # per-leg candidate list depth feeding the fusion


@query(
    "retrieval_hybrid_rrf",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS words
        FROM documents
    ),
    per_doc AS (SELECT doc_id, len(words) AS dl, {_SQL_TF} FROM toks),
    corpus AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
               {_SQL_DF}
        FROM per_doc
    ),
    lex AS (
        SELECT doc_id, {_BM25_SCORE} AS score
        FROM per_doc, corpus
        WHERE tf_data + tf_join + tf_stream > 0
    ),
    lrank AS (
        SELECT doc_id, lr FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lr
            FROM lex
        ) WHERE lr <= {_LIST_R}
    ),
    cdim AS (
        SELECT i.r AS pos,
               {sql_qsum('embedding[i.r + 1]', ROUND)}
                 / {SQL_QN} AS c
        FROM embeddings, LATERAL (SELECT unnest(range({DIM})) AS r) i
        GROUP BY i.r
    ),
    qvec AS (SELECT list(c ORDER BY pos) AS c_arr FROM cdim),
    normed AS (
        SELECT vec_id, embedding,
               {sql_dot('embedding', 'embedding', DIM)} AS norm_sq
        FROM embeddings
    ),
    dense AS (
        SELECT vec_id,
               ({sql_dot('embedding', 'c_arr', DIM)}) / (SQRT(norm_sq) * SQRT({sql_dot('c_arr', 'c_arr', DIM)})) AS dcos
        FROM normed, qvec
    ),
    drank AS (
        SELECT vec_id, dr FROM (
            SELECT vec_id,
                   ROW_NUMBER() OVER (ORDER BY dcos DESC, vec_id) AS dr
            FROM dense
        ) WHERE dr <= {_LIST_R}
    ),
    fused AS (
        SELECT COALESCE(l.doc_id, d.vec_id) AS doc_id,
               CAST(l.lr AS INT) AS lex_rank,
               CAST(d.dr AS INT) AS dense_rank,
               COALESCE(1e0 / ({_RRF_K} + l.lr), 0e0)
                 + COALESCE(1e0 / ({_RRF_K} + d.dr), 0e0) AS rrf_score
        FROM lrank l FULL OUTER JOIN drank d ON l.doc_id = d.vec_id
    )
    SELECT doc_id, lex_rank, dense_rank, rrf_score
    FROM fused
    ORDER BY rrf_score DESC, doc_id
    LIMIT 20
    """,
    tags=("retrieval", "llm", "bm25", "similarity", "fusion"),
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion of the BM25 lexical leg (fixed query
    'data join stream') and the dense leg (cosine to the corpus-
    centroid query vector): top-{_LIST_R} per leg, score(d) =
    1/(60 + lex_rank) + 1/(60 + dense_rank) with missing legs
    contributing 0, top-20 fused. Ranks are total orders on
    bit-identical cross-engine scores, so the fusion is value-exact —
    no calibration, no floats that depend on list membership."""
    docs = load(spark, sf_dir, "documents")
    words = words_col(F.col("text"))
    per_doc = docs.select(
        "doc_id",
        F.size(words).alias("dl"),
        *[_tf_col(words, t).alias(f"tf_{t}") for t in _BM25_TERMS],
    )
    corpus = per_doc.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    lex = (
        per_doc.crossJoin(F.broadcast(corpus))
        .filter(sum(F.col(f"tf_{t}") for t in _BM25_TERMS) > 0)
        .select("doc_id", F.expr(_BM25_SCORE).alias("score"))
    )
    # top-R FIRST via TakeOrderedAndProject (per-partition heaps +
    # driver merge of R rows), THEN rank the R survivors — the global
    # row_number window only ever sorts _LIST_R rows, never the corpus
    lex_top = lex.orderBy(F.desc("score"), "doc_id").limit(_LIST_R)
    lrank = lex_top.select(
        "doc_id",
        F.row_number().over(W.orderBy(F.desc("score"), "doc_id")).alias("lr"),
    )

    emb = with_norm(load(spark, sf_dir, "embeddings"))
    qvec = centroids(emb, [], "embedding", ROUND)
    dcos = dot("embedding", "c_arr") / (F.sqrt("norm_sq") * F.sqrt(dot("c_arr", "c_arr")))
    dense = emb.crossJoin(F.broadcast(qvec)).select("vec_id", dcos.alias("dcos"))
    dense_top = dense.orderBy(F.desc("dcos"), "vec_id").limit(_LIST_R)
    drank = dense_top.select(
        "vec_id",
        F.row_number().over(W.orderBy(F.desc("dcos"), "vec_id")).alias("dr"),
    )

    fused = (
        lrank.join(drank, lrank.doc_id == drank.vec_id, "full_outer")
        .select(
            F.coalesce(lrank.doc_id, drank.vec_id).alias("doc_id"),
            F.col("lr").cast("int").alias("lex_rank"),
            F.col("dr").cast("int").alias("dense_rank"),
            (
                F.coalesce(F.lit(1.0) / (_RRF_K + F.col("lr")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (_RRF_K + F.col("dr")), F.lit(0.0))
            ).alias("rrf_score"),
        )
    )
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(20)


# ------------------------------------------------------------- nDCG@k
#
# Rank-weighted retrieval quality beside the recall@k family: recall
# counts hits anywhere in the top-k; nDCG additionally pays for
# putting the BEST hits FIRST. Integer-exact form (the registry's
# determinism contract): graded gains are exact integers
# 2^(k - true_rank + 1) - 1, and the log2 position discount uses the
# whole-bit `bitlen` discipline — discount(pos) = 1 / bitlen(pos + 1)
# with bitlen = length(bin(x)), scaled by 12 (the lcm of bitlen's
# {2, 3, 4} range at k = 10) so every DCG is an exact BIGINT in
# twelfths and nDCG is ONE double division of two integers.

_NDCG_DISC = "12 // length(bin({r} + 1))"  # DuckDB; Spark uses `div`

# (system name, registry query, its ranked-neighbor column names)
_NDCG_SYSTEMS = (
    ("pq_adc", "sim_knn_pq_adc"),
    ("ivfpq_residual", "sim_ivfpq_residual"),
    ("ivfpq_residual_rerank", "sim_ivfpq_residual_rerank"),
)


@query(
    "retrieval_ndcg_at_k",
    oracle=f"""
    WITH bf AS MATERIALIZED (SELECT query_id, vec_id, rank FROM ({{BF}})),
    rels AS (
        SELECT query_id, vec_id,
               (1 << (10 - rank + 1)) - 1 AS gain
        FROM bf
    ),
    sys_all AS (
        {" UNION ALL ".join(
            f"SELECT '{name}' AS system, query_id, neighbor_id, rnk FROM ({{{name.upper()}}})"
            for name, _q in _NDCG_SYSTEMS
        )}
    ),
    dcg AS (
        SELECT system, s.query_id,
               CAST(SUM(COALESCE(r.gain, 0)
                        * ({_NDCG_DISC.format(r="s.rnk")})) AS BIGINT) AS dcg12
        FROM sys_all s
        LEFT JOIN rels r ON r.query_id = s.query_id AND r.vec_id = s.neighbor_id
        GROUP BY system, s.query_id
    ),
    idcg AS (
        SELECT b.query_id,
               CAST(SUM(r.gain * ({_NDCG_DISC.format(r="b.rank")})) AS BIGINT) AS idcg12
        FROM bf b JOIN rels r ON r.query_id = b.query_id AND r.vec_id = b.vec_id
        GROUP BY b.query_id
    )
    SELECT d.system, d.query_id, d.dcg12, i.idcg12,
           CAST(d.dcg12 AS DOUBLE) / i.idcg12 AS ndcg
    FROM dcg d JOIN idcg i USING (query_id)
    """,
    tags=("retrieval", "llm", "eval", "ndcg", "similarity"),
)
def retrieval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of three registered ANN systems (raw-PQ ADC, residual
    IVF-PQ ADC, and the refined residual stack) against the
    brute-force ideal: relevance of the true rank-r neighbor is
    2^(10-r+1) - 1 (exponential gains emphasize the head), position
    discount is the whole-bit 1/bitlen(pos + 1) scaled to exact
    twelfths, ideal DCG comes from the brute-force list itself. Read
    beside the recall@k family: recall says WHETHER the truth was
    retrieved, nDCG says whether it was retrieved IN ORDER — the
    rerank stage's whole value proposition, which
    tests/test_ndcg.py pins (refined nDCG >= ADC nDCG per query: the
    exact-cosine re-sort of a superset shortlist can only improve a
    gain-ordered metric).

    Scale: every input is an already-reduced k x #queries ranked
    list; the eval is a constant-size join — index probes at 100 TB
    change the inputs' cost, not this query's."""
    from bigdata_project_spark.caching import tracked_persist
    from bigdata_project_spark.operators.pq import _rerank_from
    from bigdata_project_spark.operators.pq_residual import _res_ranked
    from bigdata_project_spark.operators.similarity import _TOP_K
    from bigdata_project_spark.registry import REGISTRY as _R

    bf = sim_knn_bruteforce_ranked(spark, sf_dir)
    rels = bf.select(
        "query_id",
        "vec_id",
        F.expr("shiftleft(1, 10 - rank + 1) - 1").alias("gain"),
    )
    # ONE residual training chain (r15, VERDICT ask #6): the residual
    # ADC ranking is persisted once and both residual systems derive
    # from it — `sim_ivfpq_residual` is its rnk <= k head,
    # `sim_ivfpq_residual_rerank` its exact-rescoring tail. The
    # previous form called the two registered builders, whose shared
    # work deduplicated only because Spark's CacheManager recognized
    # plan-identical persist() calls — one refactor away from silently
    # doubling the chain. Values are the registered queries' own
    # expressions (the nested oracles re-verify both).
    ranked = tracked_persist(_res_ranked(spark, sf_dir))
    sys_dfs = {
        "pq_adc": _R["sim_knn_pq_adc"].fn(spark, sf_dir),
        "ivfpq_residual": ranked.filter(F.col("rnk") <= _TOP_K),
        "ivfpq_residual_rerank": _rerank_from(spark, sf_dir, ranked),
    }
    sys_frames = []
    for name, _qname in _NDCG_SYSTEMS:
        df = sys_dfs[name].select(
            F.lit(name).alias("system"), "query_id", "neighbor_id", "rnk"
        )
        sys_frames.append(df)
    sys_all = sys_frames[0]
    for df in sys_frames[1:]:
        sys_all = sys_all.unionByName(df)
    r2 = rels.select(
        F.col("query_id").alias("r_qid"), F.col("vec_id").alias("r_vid"), "gain"
    )
    disc_s = F.expr("12 div length(bin(rnk + 1))")
    dcg = (
        sys_all.join(
            F.broadcast(r2),
            (F.col("query_id") == F.col("r_qid"))
            & (F.col("neighbor_id") == F.col("r_vid")),
            "left_outer",
        )
        .groupBy("system", "query_id")
        .agg(
            F.sum(F.coalesce(F.col("gain"), F.lit(0)) * disc_s)
            .cast("long")
            .alias("dcg12")
        )
    )
    disc_b = F.expr("12 div length(bin(rank + 1))")
    idcg = (
        bf.join(
            F.broadcast(r2),
            (F.col("query_id") == F.col("r_qid"))
            & (F.col("vec_id") == F.col("r_vid")),
        )
        .groupBy("query_id")
        .agg(F.sum(F.col("gain") * disc_b).cast("long").alias("idcg12"))
    )
    i2 = idcg.select(F.col("query_id").alias("i_qid"), "idcg12")
    return dcg.join(
        F.broadcast(i2), F.col("query_id") == F.col("i_qid")
    ).select(
        "system",
        "query_id",
        "dcg12",
        "idcg12",
        (F.col("dcg12").cast("double") / F.col("idcg12")).alias("ndcg"),
    )


def sim_knn_bruteforce_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, vec_id, rank): the brute-force ground-truth top-10
    with its rank column (the registered query already carries it)."""
    from bigdata_project_spark.operators.similarity import sim_knn_bruteforce

    return sim_knn_bruteforce(spark, sf_dir).select("query_id", "vec_id", "rank")


def _splice_ndcg_oracle() -> None:
    from bigdata_project_spark.registry import REGISTRY as _R

    fmt = {name.upper(): _R[qname].oracle for name, qname in _NDCG_SYSTEMS}
    fmt["BF"] = _R["sim_knn_bruteforce"].oracle
    _R["retrieval_ndcg_at_k"].oracle = _R["retrieval_ndcg_at_k"].oracle.format(**fmt)


_splice_ndcg_oracle()
