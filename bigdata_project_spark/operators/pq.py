"""Product quantization (PQ) vector index — the production 100 TB
compression path for similarity search (SURVEY.md §2.10).

`sim_knn_quantized_int8` (queries/scale_ext.py) proves 4x
fixed-point compression; production vector corpora (FAISS-style
IVF-PQ, Jegou et al. 2011) go much further: split each vector into M
subspaces, learn a small codebook per subspace, and store each
vector as M one-byte codewords — here 64 float32 components (256 B)
become 4 code bytes, a 64x index compression — searched via
asymmetric distance computation (ADC): the query stays full
precision, per-candidate distance is M table lookups + M-1 adds
against a per-query lookup table built ONCE.

Cross-engine exactness discipline (the registry's determinism
contract): vectors are L2-normalized with the fixed-order norm chain
(`with_norm`), codebook "training" sums 2^20-quantized BIGINT
components (exact integer sums, one correctly-rounded division per
codeword dimension — the `sim_centroid_per_label` trick), and every
float accumulation (encode distance, LUT entries, ADC) is an
explicit left-associated chain identical term-for-term in the Spark
fold and the SQL `+` chain. Ties break on codeword / vec ids. The
whole index is therefore bit-deterministic on both engines, so the
CODES themselves are oracled — not just row counts.

Codebook construction is deterministic one-pass "training": each
subvector is binned by the sign pattern of its first 4 dimensions
(16 bins per subspace) and the codeword is the bin's quantized mean.
That is a fixed projection rather than k-means iterations — the
index-building DATAFLOW (one groupBy pass, broadcast codebook,
map-side encode) is exactly what Lloyd iterations would repeat, and
the recall eval (`sim_recall_pq_at_k`) measures the quality instead
of assuming it.

Scale: training is one map-side-combinable groupBy over exploded
subspace dimensions; the codebook (M x 16 rows) and per-query LUT
(M x 16 per query) broadcast; encode and ADC are map-side over the
corpus scan — nothing all-pairs anywhere, and the scored relation
reads 4 BYTES per candidate instead of the raw vectors.

Reference scope note: the reference (CrawlData.py) has no vector
layer at all; this extends the north-star similarity-search pillar
alongside sim_ann_ivf_probe / sim_ann_lsh_banded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from bigdata_project_spark.operators.recall import at_k, sql_at_k
from bigdata_project_spark.operators.similarity import (
    DIM,
    _QUERY_IDS,
    _TOP_K,
    sim_knn_bruteforce,
    with_norm,
)
from bigdata_project_spark.operators.vecmath import (
    FLOOR,
    ROUND,
    SQL_QN,
    argmin_encode,
    centroids,
    dot,
    nearest_cells,
    sql_cell_score,
    sql_dot,
    sql_qsum,
    sql_sqdist,
    sqdist,
)
from bigdata_project_spark.registry import REGISTRY, query
from bigdata_project_spark.tables import load

_PQ_M = 4  # subspaces
_PQ_SUB = DIM // _PQ_M  # dims per subspace


def _sql_unit(with_label: bool = False) -> str:
    """CTE: unit-normalized vectors (zero vector -> all-zero unit).
    with_label additionally carries the IVF cell column for the
    composed IVF-PQ search."""
    lab = ", label" if with_label else ""
    return f"""
    normed AS (
        SELECT vec_id, embedding{lab},
               {sql_dot("embedding", "embedding", DIM)} AS norm_sq
        FROM embeddings
    ),
    unit AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CASE WHEN norm_sq = 0 THEN 0.0
                             ELSE CAST(x AS DOUBLE) / SQRT(norm_sq) END) AS u,
               embedding{lab}
        FROM normed
    )"""


def _sql_bucket(j: int) -> str:
    """Training bin for subspace j: sign pattern of the subvector's
    first 4 raw components (0..15)."""
    base = _PQ_SUB * j
    return " + ".join(
        f"{1 << (3 - d)} * CAST(embedding[{base + d + 1}] >= 0 AS INT)"
        for d in range(4)
    )


# subvectors of every vector, one row per (vec_id, j): the shared
# front half of training, encoding, and the query LUT
_SQL_SUBS = f"""
    subs AS (
        SELECT vec_id, j.j AS j,
               u[{_PQ_SUB} * j.j + 1 : {_PQ_SUB} * j.j + {_PQ_SUB}] AS u_sub,
               CASE {" ".join(f"WHEN j.j = {j} THEN {_sql_bucket(j)}" for j in range(_PQ_M))}
               END AS b
        FROM unit, LATERAL (SELECT unnest(range({_PQ_M})) AS j) j
    ),
    cdim AS (
        SELECT j, b, d.d AS d,
               {sql_qsum('u_sub[d.d + 1]', FLOOR)}
                 / {SQL_QN} AS m
        FROM subs, LATERAL (SELECT unnest(range({_PQ_SUB})) AS d) d
        GROUP BY j, b, d.d
    ),
    codebook AS (
        SELECT j, b, list(m ORDER BY d) AS m_arr FROM cdim GROUP BY j, b
    )
"""

_SQL_CODES = f"""
    scored AS (
        SELECT s.vec_id, s.j, cb.b,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id, s.j
                   ORDER BY ({sql_sqdist("s.u_sub", "cb.m_arr", _PQ_SUB)}), cb.b) AS rn
        FROM subs s JOIN codebook cb ON cb.j = s.j
    ),
    codes AS (
        SELECT vec_id,
               {", ".join(f"MAX(CASE WHEN j = {j} THEN b END) AS c{j}" for j in range(_PQ_M))}
        FROM scored WHERE rn = 1 GROUP BY vec_id
    )
"""


def _pq_unit(spark: SparkSession, sf_dir: str, keep=("vec_id", "embedding")) -> DataFrame:
    """(*keep, u): embeddings columns `keep` and the unit vector u
    (zero vector -> all-zero unit)."""
    emb = with_norm(load(spark, sf_dir, "embeddings"))
    unit = F.transform(
        "embedding",
        lambda x: F.when(F.col("norm_sq") == 0, F.lit(0.0)).otherwise(
            x.cast("double") / F.sqrt("norm_sq")
        ),
    )
    return emb.select(*keep, unit.alias("u"))


def _bucket_col(j: int):
    base = _PQ_SUB * j
    out = None
    for d in range(4):
        term = (1 << (3 - d)) * (
            F.element_at("embedding", base + d + 1) >= 0
        ).cast("int")
        out = term if out is None else out + term
    return out


def _lut_pivot(lut: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """Pivot a (keys..., j, b, pd) LUT relation into ONE row per key
    group carrying a 64-entry map keyed by j*16+b — the in-register
    form a real ADC kernel uses (one array lookup per code byte).

    Plan effect: the candidate side joins the LUT ONCE instead of
    through 4 chained per-subspace broadcast joins — 4 broadcast
    exchanges and 3 intermediate join stages disappear, which is
    what made the residual search the most contention-amplified
    query on the r12 driver bench. At the KEYED call sites
    (ivfpq/residual) that one join is a BroadcastHashJoin on the key
    columns; the raw-PQ call site (sim_knn_pq_adc and friends) joins
    the pivoted 3-row query LUT with crossJoin(broadcast(...)) — a
    deliberate fixed-3-query BroadcastNestedLoopJoin, whitelisted in
    tests/test_plan_audit.py. Values are untouched doubles, so
    `_adc_from_map`'s
    left-associated 4-term sum is bit-identical to the chained form
    and the oracles keep the didactic 4-way-join SQL."""
    entry = F.struct(
        (F.col("j") * 16 + F.col("b")).alias("k"), F.col("pd").alias("v")
    )
    return lut.groupBy(*[F.col(k) for k in keys]).agg(
        F.map_from_entries(F.collect_list(entry)).alias("lutm")
    )


def _adc_from_map():
    """adc = lutm[c0] + lutm[16+c1] + lutm[32+c2] + lutm[48+c3] —
    left-associated, term-for-term the oracle's l0.pd + l1.pd +
    l2.pd + l3.pd. Codes only reference codebook rows and the LUT
    covers every codebook row, so no lookup can miss."""
    out = None
    for j in range(_PQ_M):
        term = F.element_at("lutm", F.lit(j * 16) + F.col(f"c{j}"))
        out = term if out is None else out + term
    return out


def _pq_subs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, j, u_sub, b): one row per vector per subspace."""
    unit = _pq_unit(spark, sf_dir)
    per_j = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.slice("u", _PQ_SUB * j + 1, _PQ_SUB).alias("u_sub"),
                _bucket_col(j).alias("b"),
            )
            for j in range(_PQ_M)
        ]
    )
    return unit.select("vec_id", F.explode(per_j).alias("o")).select(
        "vec_id", F.col("o.j").alias("j"), F.col("o.u_sub").alias("u_sub"), F.col("o.b").alias("b")
    )


def _pq_codebook(subs: DataFrame) -> DataFrame:
    """(j, b, c_arr[16]): quantized-mean codeword per training bin."""
    return centroids(subs, ["j", "b"], "u_sub", FLOOR)


def _pq_encode(subs: DataFrame, cb: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., c0..c3): every vector encoded to M codeword ids by
    broadcast-codebook argmin (ties -> smallest codeword id). The
    training bin (subs.b) is dropped — encoding considers EVERY
    codeword, so a vector may encode to a different bin than it
    trained in (standard PQ). `keys` are the subs columns the codes
    keep (the residual search also needs the cell label)."""
    scored = subs.drop("b").join(F.broadcast(cb), "j").select(
        *keys, "j", "b", sqdist("u_sub", "c_arr").alias("dist")
    )
    return argmin_encode(scored, keys, "b", _PQ_M)


def _pq_lut(subs: DataFrame, cb: DataFrame) -> DataFrame:
    """(query_id, j, b, pd): each query subvector's squared-L2 to
    every codeword of its subspace — the ADC lookup table."""
    return (
        subs.filter(F.col("vec_id").isin(*_QUERY_IDS))
        .select(F.col("vec_id").alias("query_id"), "j", F.col("u_sub").alias("q_sub"))
        .join(F.broadcast(cb), "j")
        .select("query_id", "j", "b", sqdist("q_sub", "c_arr").alias("pd"))
    )


@query(
    "sim_pq_codes",
    # the oracle replays normalization, quantized-mean codebook
    # training, and argmin encoding end to end: a single wrong bit in
    # any codeword or a different tie-break flips a code and fails
    # the hash — the INDEX is verified, not just the search results
    oracle=f"""
    WITH {_sql_unit()},
    {_SQL_SUBS},
    {_SQL_CODES}
    SELECT vec_id,
           {", ".join(f"CAST(c{j} AS INT) AS c{j}" for j in range(_PQ_M))}
    FROM codes
    """,
    tags=("similarity", "llm", "ann", "pq", "quantization"),
)
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ index itself: every vector encoded to 4 one-byte
    codeword ids (64 float32 components -> 4 bytes, 64x smaller).
    Training bins by sign pattern, codewords are quantized bin
    means, encoding is broadcast-codebook argmin — all
    bit-deterministic (module docstring), so the codes are oracled
    value-for-value."""
    from bigdata_project_spark.caching import tracked_persist

    subs = tracked_persist(_pq_subs(spark, sf_dir))
    c = _pq_encode(subs, _pq_codebook(subs), ["vec_id"])
    return c.select(
        "vec_id", *[F.col(f"c{j}").cast("int").alias(f"c{j}") for j in range(_PQ_M)]
    )


_SQL_LUT = f"""
    q AS (SELECT vec_id AS query_id, u AS q_u FROM unit
          WHERE vec_id IN {_QUERY_IDS}),
    qsubs AS (
        SELECT query_id, j.j AS j,
               q_u[{_PQ_SUB} * j.j + 1 : {_PQ_SUB} * j.j + {_PQ_SUB}] AS q_sub
        FROM q, LATERAL (SELECT unnest(range({_PQ_M})) AS j) j
    ),
    lut AS (
        SELECT s.query_id, s.j, cb.b,
               ({sql_sqdist("s.q_sub", "cb.m_arr", _PQ_SUB)}) AS pd
        FROM qsubs s JOIN codebook cb ON cb.j = s.j
    )
"""


# every candidate ADC-scored and ranked per query — shared by the
# direct top-k and the rerank shortlist
_SQL_ADC_RANKED = """
    adc_ranked AS (
        SELECT l0.query_id, c.vec_id AS neighbor_id,
               l0.pd + l1.pd + l2.pd + l3.pd AS adc,
               ROW_NUMBER() OVER (
                   PARTITION BY l0.query_id
                   ORDER BY l0.pd + l1.pd + l2.pd + l3.pd, c.vec_id) AS rnk
        FROM codes c
        JOIN lut l0 ON l0.j = 0 AND l0.b = c.c0
        JOIN lut l1 ON l1.j = 1 AND l1.b = c.c1 AND l1.query_id = l0.query_id
        JOIN lut l2 ON l2.j = 2 AND l2.b = c.c2 AND l2.query_id = l0.query_id
        JOIN lut l3 ON l3.j = 3 AND l3.b = c.c3 AND l3.query_id = l0.query_id
        WHERE c.vec_id <> l0.query_id
    )
"""

_SQL_PQ_PRELUDE = (
    f"WITH {_sql_unit()},\n{_SQL_SUBS},\n{_SQL_CODES},\n{_SQL_LUT},\n{_SQL_ADC_RANKED}"
)


def _pq_adc_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, adc, rnk) for EVERY candidate: codes
    joined through 4 broadcast LUT legs (one per subspace), ADC as an
    explicit left-associated 4-term add, ranked ascending per query.
    The Spark twin of _SQL_ADC_RANKED."""
    from bigdata_project_spark.caching import tracked_persist

    subs = tracked_persist(_pq_subs(spark, sf_dir))
    cb = tracked_persist(_pq_codebook(subs))
    codes = _pq_encode(subs, cb, ["vec_id"])
    lut = _pq_lut(subs, cb)
    cand = codes.crossJoin(F.broadcast(_lut_pivot(lut, ("query_id",))))
    scored_q = cand.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), _adc_from_map().alias("adc")
    )
    wq = W.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return scored_q.select("*", F.row_number().over(wq).alias("rnk"))


@query(
    "sim_knn_pq_adc",
    oracle=f"""
    {_SQL_PQ_PRELUDE}
    SELECT query_id, neighbor_id, adc, rnk
    FROM adc_ranked WHERE rnk <= {_TOP_K}
    """,
    tags=("similarity", "llm", "ann", "pq", "topk"),
)
def sim_knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 by asymmetric distance computation — the
    PQ search path: the query stays full precision, a per-query
    lookup table (one squared-L2 entry per (subspace, codeword) =
    4 x 16 rows) is built once, and each candidate's distance is 4
    lookups joined through its code bytes plus 3 adds. The scored
    relation never touches raw vectors — at 100 TB the scan reads 4
    bytes per candidate, and the LUT joins are broadcasts.
    Normalized-space squared L2 is a monotone transform of cosine
    (||a-b||^2 = 2 - 2cos), so the ranking is comparable to
    sim_knn_bruteforce's ground truth (recall measured by
    sim_recall_pq_at_k; production search adds the rerank stage
    below, measured by sim_recall_pq_rerank_at_k)."""
    return _pq_adc_ranked(spark, sf_dir).filter(F.col("rnk") <= _TOP_K)


_PQ_SHORTLIST = 100


def _rerank_from(spark: SparkSession, sf_dir: str, ranked: DataFrame) -> DataFrame:
    """The refine stage shared by every PQ family: the top-100 rows
    of an ADC-ranked relation (query_id, neighbor_id, rnk) exactly
    rescored against the raw unit vectors, top-10 per query."""
    short = ranked.filter(
        F.col("rnk") <= _PQ_SHORTLIST
    ).select("query_id", "neighbor_id")
    unit = _pq_unit(spark, sf_dir).select("vec_id", "u")
    uq = unit.select(F.col("vec_id").alias("q_vid"), F.col("u").alias("u_q"))
    un = unit.select(F.col("vec_id").alias("n_vid"), F.col("u").alias("u_n"))
    rr = (
        short.join(F.broadcast(uq), F.col("query_id") == F.col("q_vid"))
        .join(un, F.col("neighbor_id") == F.col("n_vid"))
        .select("query_id", "neighbor_id", dot("u_q", "u_n").alias("cosine"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return rr.select("*", F.row_number().over(w).alias("rnk")).filter(
        F.col("rnk") <= _TOP_K
    )


def sql_rerank(ranked: str) -> str:
    """The twin of `_rerank_from`, to follow the CTEs of an oracle's
    WITH: CTEs `short` and `rr` over a ranked CTE named `ranked`
    (query_id, neighbor_id, rnk) and the `unit` CTE, then the top-k
    SELECT (query_id, neighbor_id, cosine, rnk)."""
    return f"""
    short AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM {ranked}
        WHERE rnk <= {_PQ_SHORTLIST}
    ),
    rr AS MATERIALIZED (
        SELECT s.query_id, s.neighbor_id,
               ({sql_dot("uq.u", "un.u", DIM)}) AS cosine
        FROM short s
        JOIN unit uq ON uq.vec_id = s.query_id
        JOIN unit un ON un.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM rr
    ) WHERE rnk <= {_TOP_K}
    """


@query(
    "sim_knn_pq_rerank",
    oracle=f"{_SQL_PQ_PRELUDE},{sql_rerank('adc_ranked')}",
    tags=("similarity", "llm", "ann", "pq", "rerank", "topk"),
)
def sim_knn_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ search: ADC over the 64x-compressed codes
    produces a shortlist (top-100 per query), then ONLY the shortlist
    rows are exact-rescored against the raw (unit) vectors — the
    candidate-generation/refine split every large-scale vector system
    uses (FAISS IVFPQ + refine). Compressed scan touches the whole
    corpus at 4 B/vector; full-precision vectors are fetched for
    0.1-2% of it (an equi-join on neighbor_id — at scale, a point
    lookup into the vector store). Recall vs brute force roughly
    triples the raw-ADC figure on the testbed; both are measured, not
    assumed."""
    return _rerank_from(spark, sf_dir, _pq_adc_ranked(spark, sf_dir))


@query(
    "sim_recall_pq_at_k",
    oracle=sql_at_k(
        REGISTRY["sim_knn_bruteforce"].oracle,
        REGISTRY["sim_knn_pq_adc"].oracle,
        _TOP_K,
    ),
    tags=("similarity", "llm", "eval", "pq"),
)
def sim_recall_pq_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the raw PQ/ADC ranking against exact brute-force
    cosine ground truth, per query — the honest floor for the
    64x-compressed index alone, computed in-engine exactly like
    sim_recall_at_k (the oracle nests both component oracles, so the
    eval is verified end-to-end)."""
    return at_k(sim_knn_bruteforce(spark, sf_dir), sim_knn_pq_adc(spark, sf_dir), _TOP_K)


@query(
    "sim_recall_pq_rerank_at_k",
    oracle=sql_at_k(
        REGISTRY["sim_knn_bruteforce"].oracle,
        REGISTRY["sim_knn_pq_rerank"].oracle,
        _TOP_K,
    ),
    tags=("similarity", "llm", "eval", "pq", "rerank"),
)
def sim_recall_pq_rerank_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the shortlist+rerank pipeline — the number that
    decides whether the compressed index SHIPS: it bounds what the
    production two-stage search actually returns, and the gap to
    sim_recall_pq_at_k quantifies exactly what the refine stage buys
    for its extra point lookups."""
    return at_k(sim_knn_bruteforce(spark, sf_dir), sim_knn_pq_rerank(spark, sf_dir), _TOP_K)


# --------------------------------------------- IVF + PQ, composed

# The full FAISS-style IVF-PQ search: the coarse inverted file
# (sim_ann_ivf_probe's label cells + quantized-mean centroids) prunes
# the corpus to ONE cell per query, and the PQ/ADC machinery scores
# only that cell's code bytes. At 100 TB both pruning axes multiply:
# the scan touches cell_fraction x 4 bytes per vector.

def _sql_ivf_cells(nprobe: int = 1, keep_arn: bool = False) -> str:
    """Coarse-stage CTEs: quantized-mean centroid per label cell and
    the query -> probed-cell assignment, keeping the `nprobe` nearest
    cells per query (nprobe=1 is the single-cell composed search;
    nprobe=2 turns the cell-recall dial the refine stage can't).
    keep_arn additionally carries the assignment rank so a consumer
    can slice one maxprobe probe table into nested nprobe levels
    (the tuning-curve query)."""
    arn = ", arn" if keep_arn else ""
    return f"""
    ivf_cdim AS (
        SELECT label, i.r AS pos,
               {sql_qsum('embedding[i.r + 1]', ROUND)}
                 / {SQL_QN} AS c
        FROM embeddings, LATERAL (SELECT unnest(range({DIM})) AS r) i
        GROUP BY label, i.r
    ),
    ivf_cent AS (SELECT label, list(c ORDER BY pos) AS c_arr FROM ivf_cdim GROUP BY label),
    qv AS (SELECT vec_id AS query_id, embedding AS q_emb, norm_sq AS q_norm
           FROM normed WHERE vec_id IN {_QUERY_IDS}),
    qassign AS (
        SELECT query_id, label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {sql_cell_score('q_emb', DIM)} DESC, label) AS arn
        FROM qv, ivf_cent
    ),
    qprobe AS (SELECT query_id, label AS cell{arn} FROM qassign WHERE arn <= {nprobe})
"""


_SQL_IVF_CELLS = _sql_ivf_cells(1)


# every in-cell candidate ADC-scored and ranked per query — shared by
# the direct top-k and the in-cell rerank shortlist
_SQL_IVFPQ_RANKED = """
    ivfpq_ranked AS (
        SELECT l0.query_id, c.vec_id AS neighbor_id,
               l0.pd + l1.pd + l2.pd + l3.pd AS adc,
               ROW_NUMBER() OVER (
                   PARTITION BY l0.query_id
                   ORDER BY l0.pd + l1.pd + l2.pd + l3.pd, c.vec_id) AS rnk
        FROM codes c
        JOIN normed n ON n.vec_id = c.vec_id
        JOIN qprobe p ON p.cell = n.label
        JOIN lut l0 ON l0.j = 0 AND l0.b = c.c0 AND l0.query_id = p.query_id
        JOIN lut l1 ON l1.j = 1 AND l1.b = c.c1 AND l1.query_id = p.query_id
        JOIN lut l2 ON l2.j = 2 AND l2.b = c.c2 AND l2.query_id = p.query_id
        JOIN lut l3 ON l3.j = 3 AND l3.b = c.c3 AND l3.query_id = p.query_id
        WHERE c.vec_id <> p.query_id
    )
"""

_SQL_IVFPQ_PRELUDE = (
    f"WITH {_sql_unit(with_label=True)},\n{_SQL_SUBS},\n{_SQL_CODES},\n"
    f"{_SQL_LUT},\n{_SQL_IVF_CELLS},\n{_SQL_IVFPQ_RANKED}"
)


def _ivf_qprobe(emb: DataFrame, nprobe: int, keep_rn: bool = False) -> DataFrame:
    """(query_id, cell[, rn]): the coarse stage — quantized-mean
    centroid per label cell, broadcast assign of the 3 queries, top
    `nprobe` cells per query by cosine (sim_ann_ivf_probe's
    construction; the Spark twin of _sql_ivf_cells). keep_rn carries
    the assignment rank for nested-nprobe consumers."""
    cent = centroids(emb, ["label"], "embedding", ROUND)
    q = emb.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    return nearest_cells(q, cent, "q_emb", "query_id", "label", nprobe).select(
        "query_id", F.col("label").alias("cell"), *(["rn"] if keep_rn else [])
    )


def _ivfpq_adc_ranked(spark: SparkSession, sf_dir: str, nprobe: int = 1) -> DataFrame:
    """(query_id, neighbor_id, adc, rnk) for every candidate in the
    query's `nprobe` probed cells — the Spark twin of
    _SQL_IVFPQ_RANKED. Each corpus vector has exactly one cell label,
    so even with nprobe > 1 a candidate matches at most one of the
    query's probed cells — the probe join never duplicates rows."""
    from bigdata_project_spark.caching import tracked_persist

    emb = with_norm(load(spark, sf_dir, "embeddings"))
    subs = tracked_persist(_pq_subs(spark, sf_dir))
    cb = tracked_persist(_pq_codebook(subs))
    codes = _pq_encode(subs, cb, ["vec_id"])
    lut = _pq_lut(subs, cb)
    probe = _ivf_qprobe(emb, nprobe)
    # fine stage: ADC over the probed cell's codes only
    labeled = codes.join(emb.select("vec_id", "label"), "vec_id")
    cand = (
        labeled.join(F.broadcast(probe), F.col("label") == F.col("cell"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(_lut_pivot(lut, ("query_id",))), "query_id")
    )
    scored = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), _adc_from_map().alias("adc")
    )
    wr = W.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return scored.select("*", F.row_number().over(wr).alias("rnk"))


@query(
    "sim_ivfpq_search",
    oracle=f"""
    {_SQL_IVFPQ_PRELUDE}
    SELECT query_id, neighbor_id, adc, rnk
    FROM ivfpq_ranked WHERE rnk <= {_TOP_K}
    """,
    tags=("similarity", "llm", "ann", "pq", "ivf", "topk"),
)
def sim_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ index — what production vector stores
    actually run at 100 TB: the coarse inverted file prunes to one
    cell per query (broadcast centroid assign, equi-join on the cell
    id — sim_ann_ivf_probe's machinery), and the PQ/ADC stage scores
    only that cell's 4-byte codes against the per-query LUT. The two
    compressions multiply: a 1/#cells scan fraction times 64x byte
    compression. Recall is the product of both stages' losses,
    measured (not assumed) by sim_recall_ivfpq_at_k — compare with
    sim_recall_pq_at_k (full-scan ADC) to read off exactly what the
    cell pruning costs, and with sim_recall_ivfpq_rerank_at_k to see
    the refine stage recover the PQ half of the loss."""
    return _ivfpq_adc_ranked(spark, sf_dir).filter(F.col("rnk") <= _TOP_K)


@query(
    "sim_ivfpq_rerank",
    oracle=f"{_SQL_IVFPQ_PRELUDE},{sql_rerank('ivfpq_ranked')}",
    tags=("similarity", "llm", "ann", "pq", "ivf", "rerank", "topk"),
)
def sim_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production stack: IVF cell pruning -> compressed ADC
    shortlist (top-100 in cell) -> exact rescoring of shortlist rows
    only. Since the probed cell holds well under 100 candidates at
    test scale, the refine recovers EVERY ground-truth neighbor the
    cell contains — so sim_recall_ivfpq_rerank_at_k measures the cell
    stage's loss in isolation, pinning that the PQ half of the
    composed loss is fully refundable for a bounded point-lookup
    cost. That is the tuning dial: raise nprobe for cell loss, raise
    the shortlist for quantization loss."""
    return _ivfpq_reranked(spark, sf_dir, nprobe=1)


def _ivfpq_reranked(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """Shared refine stage: the ADC shortlist (top rows across the
    probed cells) exact-rescored against the raw unit vectors — the
    only thing the nprobe dial changes is the candidate pool."""
    return _rerank_from(spark, sf_dir, _ivfpq_adc_ranked(spark, sf_dir, nprobe=nprobe))


@query(
    "sim_recall_ivfpq_rerank_at_k",
    oracle=sql_at_k(
        REGISTRY["sim_knn_bruteforce"].oracle,
        REGISTRY["sim_ivfpq_rerank"].oracle,
        _TOP_K,
    ),
    tags=("similarity", "llm", "eval", "pq", "ivf", "rerank"),
)
def sim_recall_ivfpq_rerank_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the full IVF-PQ + refine stack vs brute force —
    with the in-cell shortlist covering the whole cell at test scale,
    this equals the cell stage's recall ceiling, so the gap to
    sim_recall_ivfpq_at_k is exactly the quantization loss the refine
    stage refunds."""
    return at_k(sim_knn_bruteforce(spark, sf_dir), sim_ivfpq_rerank(spark, sf_dir), _TOP_K)


@query(
    "sim_recall_ivfpq_at_k",
    oracle=sql_at_k(
        REGISTRY["sim_knn_bruteforce"].oracle,
        REGISTRY["sim_ivfpq_search"].oracle,
        _TOP_K,
    ),
    tags=("similarity", "llm", "eval", "pq", "ivf"),
)
def sim_recall_ivfpq_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the composed IVF-PQ search vs brute force. Read
    alongside sim_recall_at_k (IVF alone) and sim_recall_pq_at_k
    (PQ alone): the composed figure decomposes into the two stages'
    losses, which is how a production index gets TUNED (raise nprobe
    vs raise codebook bits)."""
    return at_k(sim_knn_bruteforce(spark, sf_dir), sim_ivfpq_search(spark, sf_dir), _TOP_K)


# ------------------------------------------ IVF-PQ, nprobe = 2

# The composed search's residual recall loss lives entirely in the
# coarse cell stage (tests/test_pq.py pins the cell-ceiling equality):
# the refine stage refunds the PQ half. nprobe is the
# dial for the cell half: probe the 2 nearest cells, run the SAME
# shared ADC-ranked CTE over the doubled candidate pool, refine the
# shortlist. Scan fraction doubles (2/#cells x 4 bytes/vector) and
# recall rises to the 2-cell ceiling — the classic IVF trade.

_SQL_IVFPQ2_PRELUDE = (
    f"WITH {_sql_unit(with_label=True)},\n{_SQL_SUBS},\n{_SQL_CODES},\n"
    f"{_SQL_LUT},\n{_sql_ivf_cells(2)},\n{_SQL_IVFPQ_RANKED}"
)


@query(
    "sim_ivfpq_nprobe2",
    oracle=f"{_SQL_IVFPQ2_PRELUDE},{sql_rerank('ivfpq_ranked')}",
    tags=("similarity", "llm", "ann", "pq", "ivf", "nprobe", "rerank", "topk"),
)
def sim_ivfpq_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with multi-cell probing (nprobe=2) + refine — turning
    the one dial the cell/PQ decomposition left pinned: the coarse stage
    keeps the TWO nearest centroids per query, the shared ADC path
    scores both cells' 4-byte codes against the same per-query LUT,
    and the shortlist is exact-rescored. Every corpus vector still
    matches at most one of a query's probed cells (one label each),
    so no dedup stage is needed; at 100 TB the scan fraction is
    2/#cells x 4 bytes/vector — linear in nprobe, and recall climbs
    to the 2-cell ceiling (pinned by tests/test_pq.py)."""
    return _ivfpq_reranked(spark, sf_dir, nprobe=2)


@query(
    "sim_recall_ivfpq_nprobe2_at_k",
    oracle=sql_at_k(
        REGISTRY["sim_knn_bruteforce"].oracle,
        REGISTRY["sim_ivfpq_nprobe2"].oracle,
        _TOP_K,
    ),
    tags=("similarity", "llm", "eval", "pq", "ivf", "nprobe", "rerank"),
)
def sim_recall_ivfpq_nprobe2_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the nprobe=2 refined IVF-PQ search vs brute
    force. Read against sim_recall_ivfpq_rerank_at_k (nprobe=1,
    refined): the delta is pure cell-stage recovery — the second
    probed cell's ground-truth members — since the refine stage
    already refunds quantization loss at both settings."""
    return at_k(sim_knn_bruteforce(spark, sf_dir), sim_ivfpq_nprobe2(spark, sf_dir), _TOP_K)
