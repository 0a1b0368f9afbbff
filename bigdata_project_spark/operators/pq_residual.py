"""Residual IVF-PQ encoding + the nprobe tuning curve (round 12).

FAISS's production IVF-PQ (Jegou et al. 2011 §III; the
`IndexIVFPQ` default) does NOT product-quantize raw vectors: it
quantizes the RESIDUAL v - centroid(cell(v)) of each vector against
its coarse cell's centroid. Residuals concentrate the dynamic range
around zero (the coarse quantizer already explains the
between-cell variance), so the same byte budget — here 4 code bytes
per vector, exactly `sim_pq_codes`' budget — spends its 16 codewords
per subspace on the *within-cell* detail that actually decides
nearest-neighbor order. The query side pays for it with a per-cell
lookup table: the LUT keys on (query, probed cell) because the
query's residual differs per cell, which is why real FAISS builds
`nprobe` LUTs per query. Both effects are represented here and the
recall lift is MEASURED (tests/test_pq_residual.py pins
recall(residual) >= recall(raw) at nprobe=2, identical bytes), not
assumed.

Determinism (the registry's cross-engine contract): the cell
centroid in UNIT space is a quantized-BIGINT mean (exact integer
sums, one correctly-rounded division per dimension), the residual is
one exact IEEE subtraction per component, codebook training repeats
the `pq.py` quantized-mean discipline on residual subvectors (sign
bins over the residual's leading components), and every float
accumulation is an explicit left-associated chain identical
term-for-term on both engines — the residual CODES are value-oracled
just like the raw ones.

Scale: identical dataflow to `pq.py` — one groupBy pass trains the
codebook, the (10-row) unit-centroid table and (64-row) codebook
broadcast, encode is map-side over the corpus scan, the search joins
4-byte codes to a per-(query, cell) LUT of M x 16 rows per probed
cell; the candidate scan stays nprobe/#cells of the corpus.

The second query family turns the r10-r11 nprobe decomposition into
the artifact an operator actually reads when tuning an index: ONE
eval table (nprobe, recall@10, candidates scanned) for nprobe in
{1, 2, 4}, produced by a single shared scan — the nprobe=4 probe
table carries the assignment rank, each candidate joins the nprobe
levels it belongs to (np >= its cell's rank), and one window ranks
all three levels at once. The refine budget scales WITH the probe
budget (shortlist = 100 x nprobe): probing more cells while holding
the rerank budget fixed can DROP recall — a top-100 ground-truth hit
at nprobe=2 got crowded out of a fixed top-100 by nprobe=4's extra
candidates on the testbed before this scaling — so the curve's
operating points keep cost proportional on both axes. Dominance
along the curve is pinned by test, per query.

Reference scope: [ext] — the reference (CrawlData.py) has no vector
layer; BASELINE north-star similarity pillar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from bigdata_project_spark.operators.pq import (
    _PQ_M,
    _PQ_SHORTLIST,
    _PQ_SUB,
    _SQL_CODES,
    _SQL_LUT,
    _SQL_SUBS,
    _adc_from_map,
    _ivf_qprobe,
    _lut_pivot,
    _pq_codebook,
    _pq_encode,
    _pq_lut,
    _pq_subs,
    _pq_unit,
    _recall_join,
    _rerank_from,
    _sql_ivf_cells,
    _sql_unit,
)
from bigdata_project_spark.operators.similarity import (
    DIM,
    _QUERY_IDS,
    _TOP_K,
    sim_knn_bruteforce,
    with_norm,
)
from bigdata_project_spark.operators.vecmath import (
    FLOOR,
    SQL_QN,
    centroids,
    dot,
    sql_dot,
    sql_qsum,
    sql_sqdist,
    sqdist,
)
from bigdata_project_spark.registry import REGISTRY, query
from bigdata_project_spark.tables import load

_RES_NPROBE = 2  # the registered residual search probes 2 cells


# ------------------------------------------------------------------
# SQL fragments: unit-space cell centroids -> residuals -> residual
# codebook/codes -> per-(query, cell) LUT -> ranked candidates


_SQL_UCENT = f"""
    ucdim AS MATERIALIZED (
        SELECT label, d.d AS d,
               {sql_qsum('u[d.d + 1]', FLOOR)}
                 / {SQL_QN} AS c
        FROM unit, LATERAL (SELECT unnest(range({DIM})) AS d) d
        GROUP BY label, d.d
    ),
    ucent AS MATERIALIZED (SELECT label, list(c ORDER BY d) AS c_arr FROM ucdim GROUP BY label),
    resid AS MATERIALIZED (
        SELECT un.vec_id, un.label,
               list_transform(range({DIM}), i -> un.u[i + 1] - ct.c_arr[i + 1]) AS rv
        FROM unit un JOIN ucent ct USING (label)
    )
"""


def _sql_rbucket(j: int) -> str:
    """Training bin for residual subspace j: sign pattern of the
    RESIDUAL subvector's first 4 components (0..15)."""
    base = _PQ_SUB * j
    return " + ".join(
        f"{1 << (3 - d)} * CAST(rv[{base + d + 1}] >= 0 AS INT)" for d in range(4)
    )


_SQL_RSUBS = f"""
    rsubs AS MATERIALIZED (
        SELECT vec_id, label, j.j AS j,
               rv[{_PQ_SUB} * j.j + 1 : {_PQ_SUB} * j.j + {_PQ_SUB}] AS r_sub,
               CASE {" ".join(f"WHEN j.j = {j} THEN {_sql_rbucket(j)}" for j in range(_PQ_M))}
               END AS b
        FROM resid, LATERAL (SELECT unnest(range({_PQ_M})) AS j) j
    ),
    rcdim AS MATERIALIZED (
        SELECT j, b, d.d AS d,
               {sql_qsum('r_sub[d.d + 1]', FLOOR)}
                 / {SQL_QN} AS m
        FROM rsubs, LATERAL (SELECT unnest(range({_PQ_SUB})) AS d) d
        GROUP BY j, b, d.d
    ),
    rcodebook AS MATERIALIZED (SELECT j, b, list(m ORDER BY d) AS m_arr FROM rcdim GROUP BY j, b),
    rscored AS MATERIALIZED (
        SELECT s.vec_id, s.label, s.j, cb.b,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id, s.j
                   ORDER BY ({sql_sqdist("s.r_sub", "cb.m_arr", _PQ_SUB)}), cb.b) AS rn
        FROM rsubs s JOIN rcodebook cb ON cb.j = s.j
    ),
    rcodes AS MATERIALIZED (
        SELECT vec_id, label,
               {", ".join(f"MAX(CASE WHEN j = {j} THEN b END) AS c{j}" for j in range(_PQ_M))}
        FROM rscored WHERE rn = 1 GROUP BY vec_id, label
    )
"""

_SQL_RLUT = f"""
    qres AS MATERIALIZED (
        SELECT p.query_id, p.cell,
               list_transform(range({DIM}), i -> qu.u[i + 1] - uc.c_arr[i + 1]) AS q_rv
        FROM qprobe p
        JOIN unit qu ON qu.vec_id = p.query_id
        JOIN ucent uc ON uc.label = p.cell
    ),
    qrsubs AS MATERIALIZED (
        SELECT query_id, cell, j.j AS j,
               q_rv[{_PQ_SUB} * j.j + 1 : {_PQ_SUB} * j.j + {_PQ_SUB}] AS q_sub
        FROM qres, LATERAL (SELECT unnest(range({_PQ_M})) AS j) j
    ),
    rlut AS MATERIALIZED (
        SELECT s.query_id, s.cell, s.j, cb.b,
               ({sql_sqdist("s.q_sub", "cb.m_arr", _PQ_SUB)}) AS pd
        FROM qrsubs s JOIN rcodebook cb ON cb.j = s.j
    ),
    rranked AS MATERIALIZED (
        SELECT l0.query_id, c.vec_id AS neighbor_id,
               l0.pd + l1.pd + l2.pd + l3.pd AS adc,
               ROW_NUMBER() OVER (
                   PARTITION BY l0.query_id
                   ORDER BY l0.pd + l1.pd + l2.pd + l3.pd, c.vec_id) AS rnk
        FROM rcodes c
        JOIN qprobe p ON p.cell = c.label
        JOIN rlut l0 ON l0.j = 0 AND l0.b = c.c0 AND l0.query_id = p.query_id AND l0.cell = p.cell
        JOIN rlut l1 ON l1.j = 1 AND l1.b = c.c1 AND l1.query_id = p.query_id AND l1.cell = p.cell
        JOIN rlut l2 ON l2.j = 2 AND l2.b = c.c2 AND l2.query_id = p.query_id AND l2.cell = p.cell
        JOIN rlut l3 ON l3.j = 3 AND l3.b = c.c3 AND l3.query_id = p.query_id AND l3.cell = p.cell
        WHERE c.vec_id <> p.query_id
    )
"""

_SQL_RES_PRELUDE = (
    f"WITH {_sql_unit(with_label=True)},\n{_SQL_UCENT},\n{_SQL_RSUBS},\n"
    f"{_sql_ivf_cells(_RES_NPROBE)},\n{_SQL_RLUT}"
)


# ------------------------------------------------------------------
# Spark side


def _res_subs(unit: DataFrame, ucent: DataFrame) -> DataFrame:
    """(vec_id, label, j, u_sub, b): residual subvectors — one exact
    subtraction per component against the broadcast cell centroid,
    sign-bin over the residual's leading components."""
    resid = unit.join(F.broadcast(ucent), "label").select(
        "vec_id", "label", F.zip_with("u", "c_arr", lambda x, y: x - y).alias("rv")
    )

    def bucket(j: int):
        base = _PQ_SUB * j
        out = None
        for d in range(4):
            term = (1 << (3 - d)) * (
                F.element_at("rv", base + d + 1) >= 0
            ).cast("int")
            out = term if out is None else out + term
        return out

    per_j = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.slice("rv", _PQ_SUB * j + 1, _PQ_SUB).alias("u_sub"),
                bucket(j).alias("b"),
            )
            for j in range(_PQ_M)
        ]
    )
    return resid.select("vec_id", "label", F.explode(per_j).alias("o")).select(
        "vec_id",
        "label",
        F.col("o.j").alias("j"),
        F.col("o.u_sub").alias("u_sub"),
        F.col("o.b").alias("b"),
    )


def _res_search_tail(
    qu: DataFrame, ucent: DataFrame, codes: DataFrame, cb: DataFrame, probe: DataFrame
) -> DataFrame:
    """(query_id, neighbor_id, adc, rnk): the residual ADC search
    given its four relations — query residuals against each probed
    cell's centroid, per-(query, cell) LUT through the codebook,
    ONE pivoted-map broadcast join onto the probed cells' codes.
    Shared by the label-cell search here and the trained-quantizer
    composition (`ivfpq_trained.py`), which swap only the sources.
    qu = (query_id, q_u); ucent = (label, c_arr); codes =
    (vec_id, label, c0..c3); probe = (query_id, cell)."""
    qres = (
        probe.join(F.broadcast(qu), "query_id")
        .join(
            F.broadcast(ucent.select(F.col("label").alias("cell"), "c_arr")), "cell"
        )
        .select(
            "query_id",
            "cell",
            F.zip_with("q_u", "c_arr", lambda x, y: x - y).alias("q_rv"),
        )
    )
    per_j = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.slice("q_rv", _PQ_SUB * j + 1, _PQ_SUB).alias("q_sub"),
            )
            for j in range(_PQ_M)
        ]
    )
    qrsubs = qres.select("query_id", "cell", F.explode(per_j).alias("o")).select(
        "query_id", "cell", F.col("o.j").alias("j"), F.col("o.q_sub").alias("q_sub")
    )
    rlut = qrsubs.join(F.broadcast(cb), "j").select(
        "query_id", "cell", "j", "b", sqdist("q_sub", "c_arr").alias("pd")
    )
    cand = (
        codes.join(F.broadcast(probe), F.col("label") == F.col("cell"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(_lut_pivot(rlut, ("query_id", "cell"))), ["query_id", "cell"])
    )
    scored = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), _adc_from_map().alias("adc")
    )
    wr = W.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return scored.select("*", F.row_number().over(wr).alias("rnk"))


def _res_ranked(spark: SparkSession, sf_dir: str, nprobe: int = _RES_NPROBE) -> DataFrame:
    """(query_id, neighbor_id, adc, rnk) over the query's probed
    cells, ADC-scored through the per-(query, cell) residual LUT —
    the Spark twin of _SQL_RLUT's rranked."""
    from bigdata_project_spark.caching import tracked_persist

    emb = with_norm(load(spark, sf_dir, "embeddings"))
    unit = _pq_unit(spark, sf_dir, keep=("vec_id", "label"))
    ucent = tracked_persist(centroids(unit, ["label"], "u", FLOOR))
    subs = tracked_persist(_res_subs(unit, ucent))
    cb = tracked_persist(_pq_codebook(subs))
    codes = _pq_encode(subs, cb, ["vec_id", "label"])
    probe = _ivf_qprobe(emb, nprobe)
    qu = unit.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("q_u")
    )
    return _res_search_tail(qu, ucent, codes, cb, probe)


@query(
    "sim_ivfpq_residual",
    oracle=f"""
    {_SQL_RES_PRELUDE}
    SELECT query_id, neighbor_id, adc, rnk
    FROM rranked WHERE rnk <= {_TOP_K}
    """,
    tags=("similarity", "llm", "ann", "pq", "ivf", "residual", "topk"),
)
def sim_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search over RESIDUAL codes at nprobe=2, raw ADC (no
    refine — the quantization quality itself is under test): each
    vector is encoded as 4 one-byte codewords of its residual against
    its cell's unit-space centroid, and each query builds one M x 16
    LUT per probed cell from ITS residual against that cell's
    centroid. Same 4-byte/vector budget as sim_ivfpq_search — the
    recall difference (measured by sim_recall_ivfpq_residual_at_k and
    pinned >= raw in tests/test_pq_residual.py) is pure encoding
    improvement, the reason FAISS quantizes residuals. Module
    docstring has the determinism and 100 TB dataflow story."""
    return _res_ranked(spark, sf_dir).filter(F.col("rnk") <= _TOP_K)


@query(
    "sim_recall_ivfpq_residual_at_k",
    oracle=f"""
    SELECT b.query_id,
           CAST(COUNT(i.neighbor_id) AS INT) AS n_hits,
           COUNT(i.neighbor_id) / {_TOP_K}.0 AS recall
    FROM ({{BF}}) b
    LEFT JOIN ({{PQ}}) i
      ON b.query_id = i.query_id AND b.vec_id = i.neighbor_id
    GROUP BY b.query_id
    """,
    tags=("similarity", "llm", "eval", "pq", "ivf", "residual"),
)
def sim_recall_ivfpq_residual_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the residual-encoded IVF-PQ ADC search vs brute
    force. Read against the raw-vector ADC search at the same
    nprobe=2 and byte budget: the delta is what residual encoding
    buys — codewords spent on within-cell detail instead of cell
    geometry the coarse stage already explained."""
    bf = sim_knn_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    rr = sim_ivfpq_residual(spark, sf_dir).select(
        F.col("query_id").alias("i_qid"), F.col("neighbor_id").alias("i_vid")
    )
    return _recall_join(bf, rr)


REGISTRY["sim_recall_ivfpq_residual_at_k"].oracle = REGISTRY[
    "sim_recall_ivfpq_residual_at_k"
].oracle.format(
    BF=REGISTRY["sim_knn_bruteforce"].oracle,
    PQ=REGISTRY["sim_ivfpq_residual"].oracle,
)


@query(
    "sim_ivfpq_residual_rerank",
    oracle=f"""
    {_SQL_RES_PRELUDE},
    short AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM rranked
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
    """,
    tags=("similarity", "llm", "ann", "pq", "ivf", "residual", "rerank", "topk"),
)
def sim_ivfpq_residual_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production stack with residual encoding: IVF cell
    pruning at nprobe=2 -> residual-code ADC shortlist (top-100
    across the probed cells) -> exact rescoring of shortlist rows
    only. Completes the residual family symmetric with the raw one
    (sim_ivfpq_rerank / sim_ivfpq_nprobe2): the refine stage refunds
    whatever quantization loss the residual codes still carry, so
    the recall eval below reads as the residual stack's shipped
    number."""
    return _rerank_from(spark, sf_dir, _res_ranked(spark, sf_dir))


@query(
    "sim_recall_ivfpq_residual_rerank_at_k",
    oracle=f"""
    SELECT b.query_id,
           CAST(COUNT(i.neighbor_id) AS INT) AS n_hits,
           COUNT(i.neighbor_id) / {_TOP_K}.0 AS recall
    FROM ({{BF}}) b
    LEFT JOIN ({{PQ}}) i
      ON b.query_id = i.query_id AND b.vec_id = i.neighbor_id
    GROUP BY b.query_id
    """,
    tags=("similarity", "llm", "eval", "pq", "ivf", "residual", "rerank"),
)
def sim_recall_ivfpq_residual_rerank_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the refined residual IVF-PQ stack vs brute force
    — the shipped number for the residual index. Read against
    sim_recall_ivfpq_nprobe2_at_k (raw codes, same nprobe=2 +
    refine): with the shortlist covering the probed cells at test
    scale both refine stages hit the same 2-cell ceiling, which the
    test pins — the residual advantage lives in the PRE-refine ADC
    ranking (sim_recall_ivfpq_residual_at_k), exactly where FAISS
    banks it."""
    bf = sim_knn_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    rr = sim_ivfpq_residual_rerank(spark, sf_dir).select(
        F.col("query_id").alias("i_qid"), F.col("neighbor_id").alias("i_vid")
    )
    return _recall_join(bf, rr)


REGISTRY["sim_recall_ivfpq_residual_rerank_at_k"].oracle = REGISTRY[
    "sim_recall_ivfpq_residual_rerank_at_k"
].oracle.format(
    BF=REGISTRY["sim_knn_bruteforce"].oracle,
    PQ=REGISTRY["sim_ivfpq_residual_rerank"].oracle,
)


# ------------------------------------------------------------------
# The nprobe tuning curve: one shared scan, three operating points


_CURVE_NPS = (1, 2, 4)
_SQL_NPS = "[" + ", ".join(str(n) for n in _CURVE_NPS) + "]"


@query(
    "sim_ivfpq_nprobe_curve",
    oracle=f"""
    WITH {_sql_unit(with_label=True)},
    {_SQL_SUBS},
    {_SQL_CODES},
    {_SQL_LUT},
    {_sql_ivf_cells(max(_CURVE_NPS), keep_arn=True)},
    nps AS (SELECT unnest({_SQL_NPS}) AS np),
    curve_ranked AS MATERIALIZED (
        SELECT nps.np, l0.query_id, c.vec_id AS neighbor_id,
               l0.pd + l1.pd + l2.pd + l3.pd AS adc,
               ROW_NUMBER() OVER (
                   PARTITION BY nps.np, l0.query_id
                   ORDER BY l0.pd + l1.pd + l2.pd + l3.pd, c.vec_id) AS rnk
        FROM codes c
        JOIN normed n ON n.vec_id = c.vec_id
        JOIN qprobe p ON p.cell = n.label
        JOIN nps ON nps.np >= p.arn
        JOIN lut l0 ON l0.j = 0 AND l0.b = c.c0 AND l0.query_id = p.query_id
        JOIN lut l1 ON l1.j = 1 AND l1.b = c.c1 AND l1.query_id = p.query_id
        JOIN lut l2 ON l2.j = 2 AND l2.b = c.c2 AND l2.query_id = p.query_id
        JOIN lut l3 ON l3.j = 3 AND l3.b = c.c3 AND l3.query_id = p.query_id
        WHERE c.vec_id <> p.query_id
    ),
    ncand AS MATERIALIZED (
        SELECT np, query_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
        FROM curve_ranked GROUP BY np, query_id
    ),
    short AS MATERIALIZED (
        SELECT np, query_id, neighbor_id FROM curve_ranked
        WHERE rnk <= {_PQ_SHORTLIST} * np
    ),
    rr AS MATERIALIZED (
        SELECT s.np, s.query_id, s.neighbor_id,
               ({sql_dot("uq.u", "un.u", DIM)}) AS cosine
        FROM short s
        JOIN unit uq ON uq.vec_id = s.query_id
        JOIN unit un ON un.vec_id = s.neighbor_id
    ),
    topk AS MATERIALIZED (
        SELECT np, query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY np, query_id
                                         ORDER BY cosine DESC, neighbor_id) AS rrk
            FROM rr
        ) WHERE rrk <= {_TOP_K}
    )
    SELECT n2.np AS nprobe, b.query_id,
           CAST(COUNT(t.neighbor_id) AS INT) AS n_hits,
           COUNT(t.neighbor_id) / {_TOP_K}.0 AS recall_at_10,
           CAST(MAX(nc.n_candidates) AS BIGINT) AS n_candidates
    FROM ({{BF}}) b
    CROSS JOIN nps n2
    LEFT JOIN topk t ON t.np = n2.np AND t.query_id = b.query_id
                     AND t.neighbor_id = b.vec_id
    JOIN ncand nc ON nc.np = n2.np AND nc.query_id = b.query_id
    GROUP BY n2.np, b.query_id
    """,
    tags=("similarity", "llm", "eval", "pq", "ivf", "nprobe", "tuning"),
)
def sim_ivfpq_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ tuning curve an operator actually reads: per
    (nprobe, query), recall@10 of the refined search AND the
    candidate volume it paid for, at nprobe in {1, 2, 4} — recall
    climbs toward the multi-cell ceiling while cost grows linearly
    in probed cells. ONE shared scan produces all three operating
    points: the nprobe=4 probe table keeps each cell's assignment
    rank, every candidate joins exactly the curve levels that probe
    its cell (np >= rank), and a single window ranks all levels.
    Monotone recall dominance along the curve is pinned per query by
    tests/test_pq_residual.py. At 100 TB the scan fraction is
    np/#cells x 4 bytes/vector per level; the probe, LUT, and nps
    relations all broadcast."""
    from bigdata_project_spark.caching import tracked_persist

    emb = with_norm(load(spark, sf_dir, "embeddings"))
    subs = tracked_persist(_pq_subs(spark, sf_dir))
    cb = tracked_persist(_pq_codebook(subs))
    codes = _pq_encode(subs, cb, ["vec_id"])
    lut = _pq_lut(subs, cb)
    probe = _ivf_qprobe(emb, max(_CURVE_NPS), keep_rn=True)
    nps = spark.range(1).select(
        F.explode(F.array(*[F.lit(n) for n in _CURVE_NPS])).alias("np")
    )
    labeled = codes.join(emb.select("vec_id", "label"), "vec_id")
    cand = (
        labeled.join(F.broadcast(probe), F.col("label") == F.col("cell"))
        .join(F.broadcast(nps), F.col("np") >= F.col("rn"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(_lut_pivot(lut, ("query_id",))), "query_id")
    )
    scored = cand.select(
        "np", "query_id", F.col("vec_id").alias("neighbor_id"), _adc_from_map().alias("adc")
    )
    wr = W.partitionBy("np", "query_id").orderBy("adc", "neighbor_id")
    ranked = tracked_persist(
        scored.select("*", F.row_number().over(wr).alias("rnk"))
    )
    ncand = ranked.groupBy("np", "query_id").agg(
        F.count("*").cast("long").alias("n_candidates")
    )
    short = ranked.filter(F.col("rnk") <= _PQ_SHORTLIST * F.col("np")).select(
        "np", "query_id", "neighbor_id"
    )
    unit = _pq_unit(spark, sf_dir).select("vec_id", "u")
    uq = unit.select(F.col("vec_id").alias("q_vid"), F.col("u").alias("u_q"))
    un = unit.select(F.col("vec_id").alias("n_vid"), F.col("u").alias("u_n"))
    rr = (
        short.join(F.broadcast(uq), F.col("query_id") == F.col("q_vid"))
        .join(un, F.col("neighbor_id") == F.col("n_vid"))
        .select("np", "query_id", "neighbor_id", dot("u_q", "u_n").alias("cosine"))
    )
    wk = W.partitionBy("np", "query_id").orderBy(F.desc("cosine"), "neighbor_id")
    topk = (
        rr.select("*", F.row_number().over(wk).alias("rrk"))
        .filter(F.col("rrk") <= _TOP_K)
        .select(
            F.col("np").alias("t_np"),
            F.col("query_id").alias("t_qid"),
            F.col("neighbor_id").alias("t_vid"),
        )
    )
    bf = sim_knn_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    base = bf.crossJoin(F.broadcast(nps))
    hit = base.join(
        topk,
        (F.col("np") == F.col("t_np"))
        & (F.col("query_id") == F.col("t_qid"))
        & (F.col("vec_id") == F.col("t_vid")),
        "left_outer",
    )
    agg = hit.groupBy("np", "query_id").agg(
        F.count("t_vid").cast("int").alias("n_hits"),
        (F.count("t_vid") / float(_TOP_K)).alias("recall_at_10"),
    )
    return agg.join(
        F.broadcast(
            ncand.select(
                F.col("np").alias("c_np"),
                F.col("query_id").alias("c_qid"),
                "n_candidates",
            )
        ),
        (F.col("np") == F.col("c_np")) & (F.col("query_id") == F.col("c_qid")),
    ).select(
        F.col("np").alias("nprobe"),
        "query_id",
        "n_hits",
        "recall_at_10",
        "n_candidates",
    )


REGISTRY["sim_ivfpq_nprobe_curve"].oracle = REGISTRY[
    "sim_ivfpq_nprobe_curve"
].oracle.format(BF=REGISTRY["sim_knn_bruteforce"].oracle)
