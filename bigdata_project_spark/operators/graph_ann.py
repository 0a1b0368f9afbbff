"""Graph-based ANN: deterministic k-NN-graph build + greedy beam
search (round 14).

The production alternative to cell/codebook indexes (FAISS IVF-PQ,
this repo's `pq*.py`/`kmeans.py` stack) is the navigable-graph
family — HNSW (Malkov & Yashunin 2016, arXiv:1603.09320), NSW, and
the NN-descent construction (Dong et al., WWW'11): connect each
vector to its approximate nearest neighbors, then answer queries by
greedy walks that hop toward the query. This module implements the
single-layer form with every stage deterministic and value-oracled:

1. `sim_graph_knn_build` — candidate edges from TWO independent
   sign-LSH banks (4 coordinate-sign bits each, dims 1-4 and 5-8:
   each bank is a 16-way pigeonhole block join, never all-pairs;
   the measured bucket balance is ~N/16 per cell), exact cosine on
   the blocked candidates, per-node top-G degree cap — then TWO
   unrolled NN-descent refinement rounds (neighbors-of-neighbors +
   reversed edges re-ranked), the Dong-et-al step that stitches
   buckets together and repairs LSH misses (a third round measured
   to buy nothing — see the parameter block).
2. `sim_graph_beam_search` — greedy beam walk: from 3 fixed entry
   nodes, HOPS unrolled rounds of "candidates = beam + graph
   out-neighbors of beam; keep top-B by exact query cosine"
   (the kmeans.py unrolled-iteration discipline — no driver loop
   state, every hop a declarative stage), final top-k ranked.
   The best-so-far candidate can never drop out of a top-B beam,
   so max beam cosine is non-decreasing in hops (pinned).
3. `sim_recall_graph_at_k` — recall@10 vs `sim_knn_bruteforce`
   ground truth, the number that decides if the graph ships.

Determinism: cosines are the similarity.py left-associated exact
double chains; every top-G / top-B / top-k rank tie-breaks on the
neighbor id; bucket bits are coordinate-sign comparisons (axis-
aligned hyperplanes — for zero-centered embeddings the same family
as md5-seeded random hyperplanes, but with NO constant table to keep
in sync cross-engine). Entry points are fixed vec_ids — the
single-layer stand-in for HNSW's top-layer entry; a multi-layer
build would derive them, but a FIXED deterministic entry set is what
makes the walk oracle-replayable.

Scale (100 TB): the build never goes quadratic — both banks are
16-way blocked self-joins (the SimHash/dHash/audio pigeonhole
substrate), the NN-descent round joins the degree-capped edge list
(N*G rows) against itself, and scoring joins co-partition on vec_id.
The walk is HOPS broadcast-joins of a <=B*|Q|-row frontier against
the edge list — at any corpus size the per-hop work is one hash-join
probe of the graph, which is exactly the access pattern a
disk-resident HNSW serves. Graph build at real scale is the
expensive offline stage (as in production: FAISS builds HNSW once);
search cost is independent of N given the graph.

Reference scope: [ext] — BASELINE north star (the reference has no
similarity surface; FAISS HNSW / NN-descent are the public models).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from bigdata_project_spark.caching import barrier, tracked_persist
from bigdata_project_spark.operators.recall import at_k, sql_at_k
from bigdata_project_spark.operators.similarity import (
    DIM,
    _QUERY_IDS,
    _TOP_K,
    sim_knn_bruteforce,
    with_norm,
)
from bigdata_project_spark.operators.vecmath import dot, sql_dot
from bigdata_project_spark.registry import REGISTRY, query
from bigdata_project_spark.tables import load

# Parameters picked by a measured sweep (G x rounds x B x hops grid
# against brute-force truth at sf0.01/sf0.1): recall saturates at
# hops=6 (10 hops adds nothing), a 2nd NN-descent round buys +5/30
# at sf0.1 (a 3rd buys nothing), degree 12 dominates 6/8 at both
# SFs. Result: 29/30 hits at sf0.01, 24/30 at sf0.1 — on RANDOM
# (non-clustered) 64-dim vectors, where graph navigation is hardest.
_G = 12  # out-degree cap
_ND_ROUNDS = 2  # NN-descent refinement rounds
_B = 24  # beam width
_HOPS = 6  # unrolled greedy-walk rounds (saturation point, measured)
_ENTRIES = (3, 4, 5)  # fixed entry nodes (single-layer HNSW entry set)
_BANKS = ((1, 2, 3, 4), (5, 6, 7, 8))  # coordinate-sign LSH banks


def _sql_bank(dims: tuple[int, ...]) -> str:
    return " + ".join(
        f"CAST(embedding[{d}] >= 0 AS INT) * {1 << (len(dims) - 1 - i)}"
        for i, d in enumerate(dims)
    )


def _bank_col(dims: tuple[int, ...]):
    out = None
    for i, d in enumerate(dims):
        term = (F.element_at("embedding", d) >= 0).cast("int") * (
            1 << (len(dims) - 1 - i)
        )
        out = term if out is None else out + term
    return out


_SQL_GBUCK = f"""
    gbuck AS MATERIALIZED (
        SELECT vec_id, embedding,
               {sql_dot('embedding', 'embedding', DIM)} AS norm_sq,
               {_sql_bank(_BANKS[0])} AS b_a,
               {_sql_bank(_BANKS[1])} AS b_b
        FROM embeddings
    )
"""

def _sql_gscore(cand: str, out: str) -> str:
    return f"""
    {out} AS (
        SELECT c.src, c.dst,
               ({sql_dot('a.embedding', 'b.embedding', DIM)})
                 / (SQRT(a.norm_sq) * SQRT(b.norm_sq)) AS cosine
        FROM {cand} c
        JOIN gbuck a ON a.vec_id = c.src
        JOIN gbuck b ON b.vec_id = c.dst
    )"""


def _sql_graph_body() -> str:
    """Blocked candidates -> top-G edges -> `_ND_ROUNDS` unrolled
    NN-descent rounds (2-hop + reversed candidates re-ranked)."""
    parts = [
        _SQL_GBUCK,
        """
    gcand0 AS (
        SELECT a.vec_id AS src, b.vec_id AS dst
        FROM gbuck a JOIN gbuck b ON a.b_a = b.b_a AND a.vec_id <> b.vec_id
        UNION
        SELECT a.vec_id AS src, b.vec_id AS dst
        FROM gbuck a JOIN gbuck b ON a.b_b = b.b_b AND a.vec_id <> b.vec_id
    )""",
        _sql_gscore("gcand0", "gsc0"),
    ]
    for r in range(_ND_ROUNDS):
        parts.append(f"""
    ge{r} AS MATERIALIZED (
        SELECT src, dst, cosine FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                         ORDER BY cosine DESC, dst) AS rn
            FROM gsc{r}
        ) WHERE rn <= {_G}
    ),
    gcand{r + 1} AS (
        SELECT src, dst FROM ge{r}
        UNION
        SELECT x.src, y.dst
        FROM ge{r} x JOIN ge{r} y ON y.src = x.dst AND y.dst <> x.src
        UNION
        SELECT dst AS src, src AS dst FROM ge{r}
    )""")
        parts.append(_sql_gscore(f"gcand{r + 1}", f"gsc{r + 1}"))
    return ",".join(parts)


_SQL_GRAPH_BODY = _sql_graph_body()


@query(
    "sim_graph_knn_build",
    oracle=f"""
    WITH {_SQL_GRAPH_BODY}
    SELECT src AS vec_id, dst AS nbr_id, cosine, CAST(rn AS INT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                     ORDER BY cosine DESC, dst) AS rn
        FROM gsc{_ND_ROUNDS}
    ) WHERE rn <= {_G}
    """,
    tags=("similarity", "llm", "graph", "ann", "knn"),
)
def sim_graph_knn_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-capped approximate k-NN graph: two 16-way sign-LSH
    blocked candidate joins, exact cosine, per-node top-G, then
    NN-descent refinement rounds (2-hop + reversed candidates
    re-ranked). Module docstring has the algorithm, determinism, and
    the never-all-pairs scale argument."""
    return _build_graph(_banked_emb(spark, sf_dir))


def _banked_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE persisted normed + sign-banked embeddings relation (r15):
    the graph build consumes the banks, and the beam walk + the
    recall gate's brute-force truth consume (vec_id, embedding,
    norm_sq) from the SAME cache — previously each component
    re-scanned and re-normed the corpus behind its own persist.
    Sharing the scan changes no values (the extra bank columns never
    reach any output)."""
    return tracked_persist(
        with_norm(load(spark, sf_dir, "embeddings")).select(
            "vec_id",
            "embedding",
            "norm_sq",
            _bank_col(_BANKS[0]).alias("b_a"),
            _bank_col(_BANKS[1]).alias("b_b"),
        )
    )


def _build_graph(emb: DataFrame) -> DataFrame:
    """The k-NN-graph build over a persisted banked relation — the
    body of sim_graph_knn_build, shared with the beam/recall queries
    so the whole family trains from one materialized corpus pass."""
    left_a = emb.select(F.col("vec_id").alias("src"), F.col("b_a").alias("ka"))
    right_a = emb.select(F.col("vec_id").alias("dst"), F.col("b_a").alias("ka"))
    left_b = emb.select(F.col("vec_id").alias("src"), F.col("b_b").alias("kb"))
    right_b = emb.select(F.col("vec_id").alias("dst"), F.col("b_b").alias("kb"))
    # canonical orientation only (src < dst): each bucket self-join
    # emits both orientations of every same-bucket pair, so keeping
    # one before the dedup halves the distinct's shuffle; _mirror
    # below reconstructs the symmetric candidate set exactly.
    canon0 = (
        left_a.join(right_a, "ka").select("src", "dst")
        .union(left_b.join(right_b, "kb").select("src", "dst"))
        .filter(F.col("src") < F.col("dst"))
        .distinct()
    )

    def _score(cand: DataFrame) -> DataFrame:
        a = emb.select(
            F.col("vec_id").alias("src"),
            F.col("embedding").alias("s_emb"),
            F.col("norm_sq").alias("s_n"),
        )
        b = emb.select(
            F.col("vec_id").alias("dst"),
            F.col("embedding").alias("d_emb"),
            F.col("norm_sq").alias("d_n"),
        )
        cos = dot("s_emb", "d_emb") / (F.sqrt("s_n") * F.sqrt("d_n"))
        return (
            cand.join(a, "src").join(b, "dst").select("src", "dst", cos.alias("cosine"))
        )

    def _mirror(sc: DataFrame) -> DataFrame:
        return sc.union(
            sc.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "cosine")
        )

    # r14 optimization (guide §2.3 "shuffle fewer bytes" applied to
    # compute): the exact cosine is bit-exact SYMMETRIC — float
    # products commute and the fold adds the same index-ordered
    # terms — and cand0 is symmetric by construction, so round 0
    # scores each unordered pair ONCE and mirrors: the scoring joins
    # (which co-partition the candidate relation with the embedding
    # table — the build's dominant shuffle at scale) and the 64-term
    # fold run on half the rows, and mirror(score(canon0)) is
    # row-identical to score(cand0). Extending the same reuse across
    # NN-descent rounds (Dong et al.'s 'new' flags) was built and
    # measured NET-NEGATIVE here: the round candidate set is NOT
    # symmetric (two-hop pairs), so restricting accumulated scores
    # back to it costs an extra join + anti-join + checkpoint per
    # round — more fixed stage overhead than the saved fold work at
    # any SF the bench sees (see OPTIMIZATION_r14.md). Values are
    # untouched; the oracle keeps the didactic score-everything SQL.
    sc0 = tracked_persist(_score(canon0))
    scored = _mirror(sc0)
    w = W.partitionBy("src").orderBy(F.desc("cosine"), "dst")
    for _ in range(_ND_ROUNDS):
        e = tracked_persist(
            scored.select("*", F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= _G)
            .select("src", "dst")
        )
        two_hop = (
            e.select(F.col("src").alias("x_src"), F.col("dst").alias("mid"))
            .join(e.select(F.col("src").alias("mid"), F.col("dst")), "mid")
            .select(F.col("x_src").alias("src"), "dst")
            .filter(F.col("src") != F.col("dst"))
        )
        rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        cand = e.select("src", "dst").union(two_hop).union(rev).distinct()
        scored = _score(cand)
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _G)
        .select(
            F.col("src").alias("vec_id"),
            F.col("dst").alias("nbr_id"),
            "cosine",
            F.col("rn").cast("int").alias("rank"),
        )
    )


def _sql_beam_hops() -> str:
    """Unrolled greedy-beam CTE chain over the materialized graph:
    bm0 = entries; per hop, candidates = beam UNION out-neighbors,
    scored by exact query cosine, top-{_B} kept."""
    parts = [
        f"""
    bnormed AS MATERIALIZED (
        SELECT vec_id, embedding,
               {sql_dot('embedding', 'embedding', DIM)} AS norm_sq
        FROM embeddings
    ),
    bq AS (
        SELECT vec_id AS query_id, embedding AS q_emb, norm_sq AS q_n
        FROM bnormed WHERE vec_id IN {_QUERY_IDS}
    ),
    bm0 AS (
        SELECT q.query_id, e.vec_id,
               ({sql_dot('q.q_emb', 'e.embedding', DIM)})
                 / (SQRT(q.q_n) * SQRT(e.norm_sq)) AS cosine
        FROM bq q JOIN bnormed e ON e.vec_id IN {_ENTRIES}
        WHERE e.vec_id <> q.query_id
    )"""
    ]
    for t in range(_HOPS):
        parts.append(f"""
    bc{t + 1} AS (
        SELECT query_id, vec_id FROM bm{t}
        UNION
        SELECT b.query_id, g.nbr_id AS vec_id
        FROM bm{t} b JOIN g ON g.vec_id = b.vec_id
    ),
    bs{t + 1} AS (
        SELECT c.query_id, c.vec_id,
               ({sql_dot('q.q_emb', 'n.embedding', DIM)})
                 / (SQRT(q.q_n) * SQRT(n.norm_sq)) AS cosine
        FROM bc{t + 1} c
        JOIN bnormed n ON n.vec_id = c.vec_id
        JOIN bq q ON q.query_id = c.query_id
        WHERE c.vec_id <> c.query_id
    ),
    bm{t + 1} AS MATERIALIZED (
        SELECT query_id, vec_id, cosine FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id) AS rn
            FROM bs{t + 1}
        ) WHERE rn <= {_B}
    )""")
    return ",".join(parts)


@query(
    "sim_graph_beam_search",
    oracle=f"""
    WITH g AS MATERIALIZED ({REGISTRY["sim_graph_knn_build"].oracle}),
    {_sql_beam_hops()}
    SELECT query_id, vec_id AS neighbor_id, cosine, CAST(rn AS INT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rn
        FROM bm{_HOPS}
    ) WHERE rn <= {_TOP_K}
    """,
    tags=("similarity", "llm", "graph", "ann", "beam"),
)
def sim_graph_beam_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy beam search over the k-NN graph: {_HOPS} unrolled hops
    of expand-score-prune from the fixed entry set, exact query
    cosines, final top-{_TOP_K} per query. The per-hop frontier is
    <= {_B} rows/query broadcast against the degree-capped edge
    list — search cost independent of corpus size given the graph
    (module docstring)."""
    emb = _banked_emb(spark, sf_dir)
    return _beam_walk(emb, _beam_graph(emb))


def _beam_graph(emb: DataFrame) -> DataFrame:
    """The built k-NN graph as (g_src, nbr_id), behind an eager barrier."""
    return barrier(_build_graph(emb).select(F.col("vec_id").alias("g_src"), "nbr_id"), eager=True)


_CKPT_EVERY = 2  # beam hops per lineage barrier (r15: was 1)


def _beam_walk(emb: DataFrame, g: DataFrame) -> DataFrame:
    """The greedy beam walk over a built graph `g` (g_src, nbr_id)
    and a persisted normed corpus `emb` — the body of
    sim_graph_beam_search.

    r15 job-count cuts (guide §2.4 remove exchanges, §5 persist
    policy), each value-neutral:
    - the query vectors ride IN the beam rows (q_emb, q_n columns,
      functionally dependent on query_id) instead of being re-joined
      from a broadcast of the query table every hop — one broadcast
      exchange (and its build job) fewer per hop;
    - the lineage barrier runs every {_CKPT_EVERY} hops instead of
      every hop: the plan grows ~2x per un-barriered hop (bounded:
      4x between barriers), and the intermediate hop's relations are
      only consumed inside the NEXT barrier's one job, where AQE
      exchange reuse dedupes the doubled references — so half the
      eager checkpoint jobs at the same plan-size order of magnitude.

    Without barriers the beam plan doubles per unrolled hop (union +
    join both reference the previous beam), each copy carrying 64-term
    cosine folds — 6 barrier-free hops OOM'd the driver during plan
    canonicalization. The barriers are EAGER (re-measured r14): every
    hop consumes the previous beam through F.broadcast exchanges, and a
    broadcast collects its child on the spot — with a lazy barrier the
    unmaterialized chain is recomputed by each broadcast that races
    ahead of the block write (measured +25% on sim_recall_graph_at_k)."""
    qv = emb.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm_sq").alias("q_n"),
    )
    cos = dot("q_emb", "embedding") / (F.sqrt("q_n") * F.sqrt("norm_sq"))
    entries = emb.filter(F.col("vec_id").isin(*_ENTRIES)).select(
        "vec_id", "embedding", "norm_sq"
    )
    beam = (
        qv.join(F.broadcast(entries), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "q_emb", "q_n", "vec_id", cos.alias("cosine"))
    )
    wb = W.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    corpus = emb.select("vec_id", "embedding", "norm_sq")
    for t in range(_HOPS):
        cand = (
            beam.select("query_id", "q_emb", "q_n", "vec_id")
            .union(
                g.join(
                    F.broadcast(
                        beam.select(
                            "query_id", "q_emb", "q_n", F.col("vec_id").alias("g_src")
                        )
                    ),
                    "g_src",
                ).select("query_id", "q_emb", "q_n", F.col("nbr_id").alias("vec_id"))
            )
            .distinct()
        )
        scored = (
            corpus.join(F.broadcast(cand), "vec_id")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "q_emb", "q_n", "vec_id", cos.alias("cosine"))
        )
        beam = (
            scored.select("*", F.row_number().over(wb).alias("rn"))
            .filter(F.col("rn") <= _B)
            .select("query_id", "q_emb", "q_n", "vec_id", "cosine")
        )
        if (t + 1) % _CKPT_EVERY == 0 or t == _HOPS - 1:
            beam = barrier(beam, eager=True)
    return (
        beam.select("*", F.row_number().over(wb).alias("rn"))
        .filter(F.col("rn") <= _TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cosine",
            F.col("rn").cast("int").alias("rank"),
        )
    )


@query(
    "sim_recall_graph_at_k",
    oracle=sql_at_k(
        REGISTRY["sim_knn_bruteforce"].oracle,
        REGISTRY["sim_graph_beam_search"].oracle,
        _TOP_K,
    ),
    tags=("similarity", "llm", "graph", "ann", "eval"),
)
def sim_recall_graph_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the graph beam search vs exact brute-force
    ground truth, per query — the shipping gate for the graph index,
    computed in-engine with both component oracles nested.

    Ground truth, graph build, and beam walk all read ONE persisted
    normed corpus (_banked_emb), so the truth side does not re-scan
    and re-norm the embeddings behind its own plan. Values are the
    nested queries' own (same expressions, same tiebreaks), which the
    shared nested oracle re-verifies."""
    from bigdata_project_spark.operators.similarity import _bruteforce_from

    emb = _banked_emb(spark, sf_dir)
    return at_k(_bruteforce_from(emb), _beam_walk(emb, _beam_graph(emb)), _TOP_K)
