"""SemDeDup-style embedding-cluster dedup.

The text-side near-dup family (MinHash/SimHash/Jaccard) catches
lexical copies; SemDeDup (Abbas et al. 2023, arXiv:2303.09540)
catches SEMANTIC duplicates — paraphrases, translations-of-templates,
re-renderings — by clustering in embedding space and dropping
all-but-one of each high-cosine group. This module composes three
already-verified substrates into that operator:

1. **Cell assignment** — the IVF coarse quantizer from
   `sim_ann_ivf_probe` (`similarity.py`): quantized per-label mean
   centroids (cross-engine exact), every vector assigned to its
   nearest centroid by cosine (ROW_NUMBER tie-broken on cell id).
   Cells bound the pairwise stage exactly the way SemDeDup's k-means
   cells do.
2. **Within-cell pair generation** — self-equi-join on the cell id
   with the fixed-association 64-term cosine chain; pairs at
   cosine >= TAU become dedup edges. The quadratic is confined to a
   cell: at 100 TB you scale #cells with the corpus so cell size
   stays ~constant (SemDeDup's own recipe), keeping per-cell work
   bounded — the equi-join on cell IS the partitioning key, so each
   cell's pairs compute inside one shuffle partition.
3. **Canonicalization** — connected components over the edge set
   (`clustering.components`), then
   `corpus_keep_best_per_cluster`'s keeper policy: most tokens wins,
   id tiebreak (embeddings join documents on vec_id = doc_id, the
   testbed's alignment contract).

TAU: the synthetic corpus has no true semantic duplicates (max
within-cell cosine ~0.47), so the registered threshold anchors at the
~99.9th percentile of the within-cell cosine distribution (0.35) to
keep the operator non-vacuous end-to-end — on a real corpus SemDeDup
uses ~0.95+; the threshold is a config, not a semantic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructType

from bigdata_project_spark.caching import barrier, tracked_persist
from bigdata_project_spark.operators.clustering import components, keep_best, sql_components
from bigdata_project_spark.operators.dedup import words_col
from bigdata_project_spark.operators.hyperplane import BAND_STRIDE, bucket, planes, sql_bucket, sql_planes
from bigdata_project_spark.operators.similarity import DIM, _N_BANDS, _SQL_NORMED, with_norm
from bigdata_project_spark.operators.vecmath import (
    ROUND,
    SQL_QN,
    centroids,
    dot,
    nearest_cells,
    sql_cell_score,
    sql_dot,
    sql_qsum,
)
from bigdata_project_spark.registry import query
from bigdata_project_spark.tables import load, parquet_row_count

SEMDEDUP_TAU = 0.35

# Sub-cells follow the corpus (SemDeDup's "#cells grows with the
# corpus"): each label cell is split by the first Q bits of a
# hyperplane bucket, with the sizing (load_log2, lo, hi) = (9, 0, 16),
# so the expected per-cell load stays ~2^9 / n_labels vectors as n
# grows and the within-cell quadratic stays bounded.
# tests/test_semdedup.py pins the drop-rate flatness sf0.01 -> sf0.1
# (a fixed cell set measured 0.14 -> 0.49 there). The planes are band
# _N_BANDS of the hyperplane family, disjoint from the 3 banded-LSH
# bands.
_SEM_BAND = _N_BANDS
_SUBCELL_SIZING = (9, 0, BAND_STRIDE)


# the cell-assignment fragment, reusable (tools/scaling_probe.py
# measures within-cell candidate volume from the same SQL the oracle
# runs): params -> quantized centroids -> nearest-centroid assignment
# -> MATERIALIZED cells (referenced on BOTH sides of the edge
# self-join and again in ranked; inlining would re-run the 64-term
# assignment scoring three times and blow memory). cell =
# nearest-centroid label + first-q-bits LSH sub-bucket.
_SQL_SEM_CELLS = f"""
    params AS ({sql_planes('embeddings', *_SUBCELL_SIZING, 'q')}),
    cdim AS (
        SELECT label, i.r AS pos,
               {sql_qsum('embedding[i.r + 1]', ROUND)}
                 / {SQL_QN} AS c
        FROM embeddings, LATERAL (SELECT unnest(range({DIM})) AS r) i
        GROUP BY label, i.r
    ),
    cent AS (SELECT label AS c_label, list(c ORDER BY pos) AS c_arr FROM cdim GROUP BY label),
    assign AS (
        SELECT vec_id, embedding, norm_sq, c_label,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY {sql_cell_score('embedding', DIM)} DESC,
                                           c_label) AS rn
        FROM normed, cent
    ),
    cells AS MATERIALIZED (
        SELECT vec_id, embedding, norm_sq,
               CAST(c_label AS VARCHAR) || ':'
                 || {sql_bucket('embedding', _SEM_BAND, 'q')} AS cell
        FROM assign, params WHERE rn = 1
    )
"""


@query(
    "dedup_semantic_cells",
    oracle=f"""
    WITH RECURSIVE {_SQL_NORMED},
    {_SQL_SEM_CELLS},
    edges AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ({sql_dot('a.embedding', 'b.embedding', DIM)})
                / (SQRT(a.norm_sq) * SQRT(b.norm_sq)) >= {SEMDEDUP_TAU}
    ),
    {sql_components("embeddings", "vec_id")},
    quality AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))
                    AS BIGINT) AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT c.vec_id, ce.cell, c.component, q.n_tokens,
               FIRST_VALUE(c.vec_id)
                 OVER (PARTITION BY c.component ORDER BY q.n_tokens DESC, c.vec_id ASC)
                 AS keeper_vec_id
        FROM comp c
        JOIN cells ce ON ce.vec_id = c.vec_id
        JOIN quality q ON q.doc_id = c.vec_id
    )
    SELECT vec_id, cell, component, n_tokens, keeper_vec_id,
           CAST(vec_id = keeper_vec_id AS INT) AS is_kept
    FROM ranked
    """,
    tags=("dedup", "llm", "similarity", "clustering", "semdedup"),
)
def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end to end: IVF cell assignment -> within-cell
    cosine >= TAU edges -> connected components -> keep-best-quality
    per component. One row per vector with its cell, component,
    quality, and the keep decision.

    Scale story (the module docstring has the full argument): the ONLY
    quadratic stage is confined within cells via the equi-join on the
    assigned cell id; #cells grows with the corpus so per-cell work is
    ~constant. Cell assignment is a broadcast of #cells centroid rows
    against one corpus scan; components exchange (id, label) pairs
    only; the keeper election is the same max(struct) aggregate as
    corpus_keep_best_per_cluster, riding the component exchange."""
    emb = with_norm(load(spark, sf_dir, "embeddings"))
    # the footer count is the oracle's COUNT(*) over the same table
    q = planes(parquet_row_count(f"{sf_dir}/embeddings.parquet"), *_SUBCELL_SIZING)
    cells = tracked_persist(_sem_assign(emb, _sem_centroids(emb), q))

    a, b = cells.alias("a"), cells.alias("b")
    cosine = dot("a.embedding", "b.embedding") / (
        F.sqrt(F.col("a.norm_sq")) * F.sqrt(F.col("b.norm_sq"))
    )
    edges = (
        a.join(b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(cosine >= SEMDEDUP_TAU)
        .select(F.col("a.vec_id").alias("doc_a"), F.col("b.vec_id").alias("doc_b"))
    )
    comp = components(emb.select(F.col("vec_id").alias("id")), edges)

    quality = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"),
        F.size(words_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    j = tracked_persist(
        comp.select(F.col("id").alias("vec_id"), "component")
        .join(cells.select("vec_id", "cell"), "vec_id")
        .join(quality, "vec_id")
    )
    return (
        j.join(keep_best(j, "vec_id"), "component")
        .select(
            "vec_id",
            "cell",
            "component",
            "n_tokens",
            "keeper_vec_id",
            (F.col("vec_id") == F.col("keeper_vec_id")).cast("int").alias("is_kept"),
        )
    )


# ------------------------------------------- incremental (O(batch))

_SEM_BATCH_MOD = 10  # stand-in increment: every 10th vector


def _sem_centroids(corpus: DataFrame) -> DataFrame:
    """Quantized per-label mean centroids (c_label, c_arr) — the
    standing-index state an ingest pipeline refreshes in its batch
    job, exact cross-engine (integer-quantized sums)."""
    cent = centroids(corpus, ["label"], "embedding", ROUND)
    return cent.select(F.col("label").alias("c_label"), "c_arr")


def _sem_assign(emb: DataFrame, cent: DataFrame, q: int) -> DataFrame:
    """Nearest-centroid + first-q-bits sub-bucket cell assignment:
    (vec_id, embedding, norm_sq) x broadcast centroids ->
    (vec_id, embedding, norm_sq, cell). The broadcast is #cells rows —
    index state, never corpus-sized."""
    vecs = emb.select("vec_id", "embedding", "norm_sq")
    return nearest_cells(vecs, cent, "embedding", "vec_id", "c_label", 1).select(
        "vec_id",
        "embedding",
        "norm_sq",
        F.concat(F.col("c_label").cast("string"), F.lit(":"), bucket("embedding", _SEM_BAND, q)).alias("cell"),
    )


_SQL_INCREMENTAL_ORACLE = f"""
    WITH {_SQL_NORMED},
    corpus AS (SELECT * FROM normed WHERE vec_id % {_SEM_BATCH_MOD} <> {_SEM_BATCH_MOD - 1}),
    params AS ({sql_planes('corpus', *_SUBCELL_SIZING, 'q')}),
    cdim AS (
        SELECT label, i.r AS pos,
               {sql_qsum('embedding[i.r + 1]', ROUND)}
                 / {SQL_QN} AS c
        FROM corpus, LATERAL (SELECT unnest(range({DIM})) AS r) i
        GROUP BY label, i.r
    ),
    cent AS (SELECT label AS c_label, list(c ORDER BY pos) AS c_arr FROM cdim GROUP BY label),
    assign_all AS (
        SELECT vec_id, embedding, norm_sq, c_label,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY {sql_cell_score('embedding', DIM)} DESC,
                                           c_label) AS rn
        FROM normed, cent
    ),
    cells AS MATERIALIZED (
        SELECT vec_id, embedding, norm_sq,
               CAST(c_label AS VARCHAR) || ':'
                 || {sql_bucket('embedding', _SEM_BAND, 'q')} AS cell
        FROM assign_all, params WHERE rn = 1
    ),
    bcells AS (SELECT * FROM cells WHERE vec_id % {_SEM_BATCH_MOD} = {_SEM_BATCH_MOD - 1}),
    ccells AS (SELECT * FROM cells WHERE vec_id % {_SEM_BATCH_MOD} <> {_SEM_BATCH_MOD - 1}),
    corpus_hits AS (
        SELECT b.vec_id, MIN(c.vec_id) AS dup_corpus
        FROM bcells b JOIN ccells c ON b.cell = c.cell
        WHERE ({sql_dot('b.embedding', 'c.embedding', DIM)})
                / (SQRT(b.norm_sq) * SQRT(c.norm_sq)) >= {SEMDEDUP_TAU}
        GROUP BY b.vec_id
    ),
    batch_hits AS (
        SELECT b.vec_id, MIN(e.vec_id) AS dup_batch
        FROM bcells b JOIN bcells e ON b.cell = e.cell AND e.vec_id < b.vec_id
        WHERE ({sql_dot('b.embedding', 'e.embedding', DIM)})
                / (SQRT(b.norm_sq) * SQRT(e.norm_sq)) >= {SEMDEDUP_TAU}
        GROUP BY b.vec_id
    )
    SELECT b.vec_id, b.cell,
           COALESCE(ch.dup_corpus, bh.dup_batch) AS dup_of,
           CAST(ch.dup_corpus IS NULL AND bh.dup_batch IS NULL AS INT) AS is_new_unique
    FROM bcells b
    LEFT JOIN corpus_hits ch ON ch.vec_id = b.vec_id
    LEFT JOIN batch_hits bh ON bh.vec_id = b.vec_id
    """


@query(
    "dedup_semantic_incremental",
    oracle=_SQL_INCREMENTAL_ORACLE,
    tags=("dedup", "llm", "similarity", "semdedup", "incremental"),
)
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup — the daily-ingest form of
    `dedup_semantic_cells` (and the semantic twin of
    `dedup_incremental_merge`'s exact-hash asymmetry): a NEW batch of
    vectors (stood in by every 10th vec_id) is probed against the
    STANDING corpus index — centroids and sub-cell width Q are built
    from the corpus only, exactly what a maintained index holds — and
    against earlier batch members. Per batch vector: the minimum-id
    existing near-duplicate (corpus first, then batch), and whether it
    enters the corpus as new unique content.

    Scale design: the corpus is 100 TB, the batch is an increment.
    Centroids are index state (refreshed by the batch job that built
    them, not per increment); the batch assigns cells via a broadcast
    of #cells centroid rows; the ONLY corpus touch is the cell
    equi-join probe, which reaches the batch's cells and no others —
    at a bounded per-cell load (the derived Q) that makes ingestion
    O(batch x cell_load), never O(corpus). No transitive closure here
    by design: an increment cannot re-cluster the standing corpus —
    full re-canonicalization stays the periodic batch job
    (`dedup_semantic_cells`)."""
    emb = with_norm(load(spark, sf_dir, "embeddings"))
    is_batch = F.col("vec_id") % _SEM_BATCH_MOD == _SEM_BATCH_MOD - 1
    corpus = emb.filter(~is_batch)
    q = planes(corpus.count(), *_SUBCELL_SIZING)
    cent = _sem_centroids(corpus)
    cells = tracked_persist(_sem_assign(emb, cent, q))
    bcells = cells.filter(is_batch)
    ccells = cells.filter(~is_batch)

    def _cos(a: str, b: str):
        return dot(f"{a}.embedding", f"{b}.embedding") / (
            F.sqrt(F.col(f"{a}.norm_sq")) * F.sqrt(F.col(f"{b}.norm_sq"))
        )

    # the corpus probe and the within-batch probe are BOTH cell
    # equi-joins of the same batch side, so they run as ONE join
    # against the flagged union of the two match sets and split back
    # in the aggregate (min over corpus hits / min over earlier-batch
    # hits) — one cell-keyed join + one aggregate instead of two of
    # each, same dup_corpus/dup_batch values row for row.
    b = bcells.alias("b")
    o = (
        ccells.withColumn("is_corpus", F.lit(True))
        .unionByName(bcells.withColumn("is_corpus", F.lit(False)))
        .alias("o")
    )
    hits = (
        b.join(
            o,
            (F.col("b.cell") == F.col("o.cell"))
            & (F.col("o.is_corpus") | (F.col("o.vec_id") < F.col("b.vec_id"))),
        )
        .filter(_cos("b", "o") >= SEMDEDUP_TAU)
        .groupBy(F.col("b.vec_id").alias("vec_id"))
        .agg(
            F.min(F.when(F.col("o.is_corpus"), F.col("o.vec_id"))).alias("dup_corpus"),
            F.min(F.when(~F.col("o.is_corpus"), F.col("o.vec_id"))).alias("dup_batch"),
        )
    )
    return (
        bcells.select("vec_id", "cell")
        .join(hits, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("dup_corpus", "dup_batch").alias("dup_of"),
            (F.col("dup_corpus").isNull() & F.col("dup_batch").isNull())
            .cast("int")
            .alias("is_new_unique"),
        )
    )


def run_semantic_ingest_stream(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> tuple[DataFrame, int]:
    """Incremental SemDeDup as a STREAMING ingest pipeline: the batch
    increment (every 10th vec_id) arrives as a stream of `n_chunks`
    vec_id-ordered micro-batches (`staging.run_chunk_stream`,
    ordered); a foreachBatch stage probes each micro-batch against
    the STANDING index — centroids + derived Q +
    cell-keyed corpus cells, built once from the corpus before the
    stream starts — and against the members of earlier micro-batches,
    then writes its verdict rows, which carry each member's cell
    columns, to the one `BatchStore`, once per batch. Returns
    (result, n_micro_batches).

    Because chunks are vec_id-ordered and the within-batch probe keys
    on e.vec_id < b.vec_id, the union of per-micro-batch results is
    EXACTLY `dedup_semantic_incremental`'s batch answer — so the
    streaming form shares its DuckDB oracle, and the chunked replay
    (cross-batch hits only discoverable through the stored earlier
    members) is verified against it end to end.

    Scale: per micro-batch work is O(batch x cell_load) — the
    broadcast centroid assign plus ONE flagged cell equi-join against
    corpus cells union the earlier members' cells (the two probes
    share the exchange). The seen read selects the cell columns back
    out of the verdict store, so it grows with the increment, not the
    corpus. A production deployment swaps the staged parquet chunks
    for the Kafka source and the store for the index's upsert
    surface; the foreachBatch body is unchanged."""
    import os
    import tempfile

    from bigdata_project_spark.operators.staging import BatchStore, run_chunk_stream

    emb = with_norm(load(spark, sf_dir, "embeddings"))
    is_batch = F.col("vec_id") % _SEM_BATCH_MOD == _SEM_BATCH_MOD - 1
    corpus = emb.filter(~is_batch)
    q = planes(corpus.count(), *_SUBCELL_SIZING)
    cent = tracked_persist(_sem_centroids(corpus))
    ccells = tracked_persist(_sem_assign(corpus, cent, q))
    ccells.count()  # materialize the standing index before the stream
    batch_members = emb.filter(is_batch).select("vec_id", "embedding", "norm_sq")

    with tempfile.TemporaryDirectory(prefix="sem_ingest_") as work:
        verdicts = StructType(list(ccells.schema))
        store = BatchStore(
            os.path.join(work, "verdicts"),
            verdicts.add("dup_of", LongType()).add("is_new_unique", IntegerType()),
        )

        def cos(x: str, y: str):
            return dot(f"{x}.embedding", f"{y}.embedding") / (
                F.sqrt(F.col(f"{x}.norm_sq")) * F.sqrt(F.col(f"{y}.norm_sq"))
            )

        max_seen_vec = [-1]  # foreachBatch runs driver-side

        def probe(bdf: DataFrame, bid: int) -> None:
            bcells = _sem_assign(bdf, cent, q).persist()
            b_lo, b_hi = bcells.agg(F.min("vec_id"), F.max("vec_id")).first()
            if b_lo is not None:
                # oracle equality requires in-order delivery: every
                # cross-batch dup_of hit assumes earlier vec_ids are
                # already in the store. Fail loudly on an
                # out-of-order micro-batch instead of silently
                # dropping hits.
                if int(b_lo) <= max_seen_vec[0]:
                    raise RuntimeError(
                        f"semantic ingest stream delivered out of order: "
                        f"batch min vec_id {b_lo} <= max already seen "
                        f"{max_seen_vec[0]}"
                    )
                max_seen_vec[0] = int(b_hi)
            # one flagged cell-keyed join per micro-batch instead of
            # two (the dedup_semantic_incremental merged-probe shape):
            # corpus index and earlier-members-plus-batch union with
            # an is_corpus flag, min split in the aggregate
            b = bcells.alias("b")
            seen = store.read(spark, exclude=bid).select(*ccells.columns)
            prior = seen.unionByName(bcells)
            o = (
                ccells.withColumn("is_corpus", F.lit(True))
                .unionByName(prior.withColumn("is_corpus", F.lit(False)))
                .alias("o")
            )
            hits = (
                b.join(
                    o,
                    (F.col("b.cell") == F.col("o.cell"))
                    & (
                        F.col("o.is_corpus")
                        | (F.col("o.vec_id") < F.col("b.vec_id"))
                    ),
                )
                .filter(cos("b", "o") >= SEMDEDUP_TAU)
                .groupBy(F.col("b.vec_id").alias("vec_id"))
                .agg(
                    F.min(F.when(F.col("o.is_corpus"), F.col("o.vec_id"))).alias(
                        "dup_corpus"
                    ),
                    F.min(F.when(~F.col("o.is_corpus"), F.col("o.vec_id"))).alias(
                        "dup_batch"
                    ),
                )
            )
            out = bcells.join(hits, "vec_id", "left").select(
                *ccells.columns,
                F.coalesce("dup_corpus", "dup_batch").alias("dup_of"),
                (F.col("dup_corpus").isNull() & F.col("dup_batch").isNull())
                .cast("int")
                .alias("is_new_unique"),
            )
            # the verdicts and, in the same rows, this micro-batch's
            # members, which every later batch reads back
            store.write(out, bid)
            bcells.unpersist()

        n_batches = run_chunk_stream(
            batch_members, "vec_id", n_chunks, probe, work, ordered=True
        )
        res = barrier(
            store.read(spark).select("vec_id", "cell", "dup_of", "is_new_unique"), eager=True
        )
    ccells.unpersist()
    cent.unpersist()
    return res, n_batches


@query(
    "stream_semantic_incremental_dedup",
    oracle=_SQL_INCREMENTAL_ORACLE,
    tags=("streaming", "dedup", "llm", "semdedup", "incremental", "foreachBatch"),
)
def stream_semantic_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_semantic_incremental` in its natural home: a
    foreachBatch streaming ingest over three vec_id-ordered
    micro-batches with a standing centroid/Q/corpus-cell index and one
    batch-keyed verdict store whose rows carry each member's cells —
    the production shape of semantic ingestion dedup. Shares the batch
    form's oracle because the chunked replay provably reassembles the
    batch answer (see run_semantic_ingest_stream); cross-batch
    near-dups are only found through the stored earlier members, so
    the oracle equality is a real multi-batch state-carry check, not a
    one-batch degenerate."""
    res, _ = run_semantic_ingest_stream(spark, sf_dir, n_chunks=3)
    return res
