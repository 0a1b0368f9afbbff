"""Corpus-preparation operators for LLM training-data pipelines.

Beyond dedup/similarity (operators/dedup.py, similarity.py), a
training-data pipeline needs: sequence packing (fill fixed context
windows), benchmark-contamination screening, PII scrubbing,
reproducible train/val/test splits, and repetition-based quality
filtering. Each is implemented Spark-first (built-in functions, no
Python in the hot path) with a full DuckDB oracle — deterministic
arithmetic only, following the registry determinism contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from bigdata_project_spark.operators import spans
from bigdata_project_spark.operators.dedup import (
    _SQL_SHINGLES,
    _SQL_SHINGLES_CAPPED,
    SHINGLE_N,
    shingle_df_capped,
    words_col,
)
from bigdata_project_spark.registry import query
from bigdata_project_spark.tables import load, load_spread

# ---------------------------------------------------------------- packing

_CTX_TOKENS = 512  # context-window capacity in whitespace tokens


@query(
    "pack_sequences_by_source",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        FROM toks
    )
    SELECT doc_id, source, n_tokens,
           cum_before // {_CTX_TOKENS} AS pack_id,
           CASE WHEN n_tokens = 0 THEN 0
                ELSE CAST(cum_before // {_CTX_TOKENS}
                          <> (cum_before + n_tokens - 1) // {_CTX_TOKENS} AS INT)
           END AS straddles
    FROM cum
    """,
    tags=("llm", "packing", "window"),
)
def pack_sequences_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing manifest: documents are packed into fixed
    {_CTX_TOKENS}-token context windows in deterministic (doc_id)
    order, PER SOURCE — the pack assignment is a running token count
    divided by capacity, and `straddles` flags documents that cross a
    window boundary (candidates for splitting or padding).

    Scale design: a single global packing order would force one
    sorted partition (serial cumsum over the whole corpus); packing
    within source keys keeps every window function partition-parallel
    — sources are the natural shard unit a 100 TB corpus is already
    laid out by, and packs never need to span sources. All integer
    arithmetic (token counts, integer division) — cross-engine exact.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", F.size(words_col(F.col("text"))).alias("n_tokens"))
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    cum = toks.withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"))
    pack_id = F.expr(f"cum_before div {_CTX_TOKENS}")
    end_pack = F.expr(f"(cum_before + n_tokens - 1) div {_CTX_TOKENS}")
    return cum.select(
        "doc_id",
        "source",
        "n_tokens",
        pack_id.alias("pack_id"),
        F.when(F.col("n_tokens") == 0, F.lit(0))
        .otherwise((pack_id != end_pack).cast("int"))
        .alias("straddles"),
    )


# ---------------------------------------------------------- contamination

_BENCH_MOD = 50  # stand-in benchmark set: every 50th document


@query(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    {_SQL_SHINGLES_CAPPED},
    bench AS (SELECT DISTINCT shingle FROM shc WHERE doc_id % {_BENCH_MOD} = 0),
    corpus AS (SELECT doc_id, shingle FROM shc WHERE doc_id % {_BENCH_MOD} <> 0),
    n AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id),
    hits AS (
        SELECT c.doc_id, COUNT(*) AS n_contaminated
        FROM corpus c JOIN bench b ON b.shingle = c.shingle
        GROUP BY c.doc_id
    )
    SELECT n.doc_id, n.n_shingles,
           CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / CAST(n.n_shingles AS DOUBLE)
             AS contamination_ratio
    FROM n LEFT JOIN hits h ON h.doc_id = n.doc_id
    """,
    tags=("llm", "contamination", "dedup"),
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: for every training document,
    the fraction of its word-5-gram shingles that also appear in the
    held-out benchmark set (stood in by every {_BENCH_MOD}th doc).
    Documents with high overlap leak eval data and must be dropped
    before training.

    Scale design: the benchmark shingle set is small (eval sets are
    thousands of docs, not billions), so it broadcasts — the corpus
    side is one scan + map-side hash probe, no corpus shuffle for
    candidate generation; only the per-doc count aggregation shuffles
    (doc_id keys, uniform). Shingles come from the df-capped set, so
    a boilerplate shingle can neither blow up the probe nor count as
    contamination evidence."""
    from bigdata_project_spark.caching import tracked_persist

    # persisted: sh feeds the benchmark set, the per-doc counts, and
    # the probe join — three consumers that would each re-run the
    # shingling explode otherwise (same pattern as dedup_minhash_lsh)
    sh = tracked_persist(shingle_df_capped(spark, sf_dir))
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    bench = sh.filter(is_bench).select("shingle").distinct()
    corpus = sh.filter(~is_bench)
    n = corpus.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    return (
        n.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
            (
                F.coalesce("n_contaminated", F.lit(0)).cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("contamination_ratio"),
        )
    )


# ------------------------------------------------------------- PII scrub

_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_URL_RE = r"https?://[a-z0-9./-]+"


@query(
    "scrub_pii_stats",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@mail.example.com or https://ex' || CAST(doc_id AS VARCHAR)
                         || '.example.org/page now'
                    ELSE text END AS txt
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(txt, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(txt, '{_URL_RE}')) AS INT) AS n_urls,
           CAST(length(txt) AS BIGINT) AS len_raw,
           CAST(length(regexp_replace(regexp_replace(txt, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                      '{_URL_RE}', '<URL>', 'g')) AS BIGINT) AS len_clean
    FROM seeded
    """,
    tags=("llm", "pii", "scrub"),
)
def scrub_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact email addresses and URLs per
    document (regexp_count + chained regexp_replace — JVM-side, one
    scan, embarrassingly parallel; the 100 TB shape is a pure map).

    The synthetic corpus contains no organic PII, so a deterministic
    seeded injection (every 7th doc gets an email + URL appended,
    identically in both engines) makes the operator's behavior
    observable under the oracle gate instead of vacuously passing on
    all-zero counts. Patterns stay in the regex subset Java and RE2
    interpret identically (explicit character classes, no
    lookaround)."""
    docs = load(spark, sf_dir, "documents")
    txt = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or https://ex"),
            F.col("doc_id").cast("string"),
            F.lit(".example.org/page now"),
        ),
    ).otherwise(F.col("text"))
    seeded = docs.select("doc_id", txt.alias("txt"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("txt"), _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
    )
    return seeded.select(
        "doc_id",
        F.regexp_count("txt", F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count("txt", F.lit(_URL_RE)).cast("int").alias("n_urls"),
        F.length("txt").cast("long").alias("len_raw"),
        F.length(clean).cast("long").alias("len_clean"),
    )


# ------------------------------------------------------------ hash split

_HEX16 = "0123456789abcdef"
# bucket thresholds out of 256: ~90% train / ~5% val / ~5% test
_TRAIN_LT = 230
_VAL_LT = 243


def _split_bucket(cast_type: str, col: str = "doc_id") -> str:
    h = f"md5(CAST({col} AS {cast_type}))"
    return (
        f"(instr('{_HEX16}', substring({h}, 1, 1)) - 1) * 16"
        f" + (instr('{_HEX16}', substring({h}, 2, 1)) - 1)"
    )


# shared oracle fragment: the hash-split assignment as a CTE body.
# Downstream oracles (qa_split_leakage, split_cluster_aware_assign)
# interpolate THIS instead of hand-inlining the bucket expression and
# thresholds, so a threshold change cannot desynchronize oracle from
# implementation (advisor r9).
_SQL_SPLIT_CTE_BODY = f"""
        SELECT doc_id,
               CASE WHEN {_split_bucket("VARCHAR")} < {_TRAIN_LT} THEN 'train'
                    WHEN {_split_bucket("VARCHAR")} < {_VAL_LT} THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
"""


@query(
    "split_train_val_test",
    oracle=f"""
    SELECT CASE WHEN {_split_bucket("VARCHAR")} < {_TRAIN_LT} THEN 'train'
                WHEN {_split_bucket("VARCHAR")} < {_VAL_LT} THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM documents
    GROUP BY 1, 2
    """,
    tags=("llm", "split", "sample"),
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment: md5(doc_id) maps each
    document to a bucket in [0, 256); thresholds carve ~90/5/5. Hash
    splitting (vs RNG) survives reruns, engine changes, and corpus
    growth — a document's split never changes when other documents
    are added, the property that prevents silent eval contamination
    across pipeline versions. Pure scan + codegen'd expression; the
    only shuffle is the tiny reporting aggregate."""
    docs = load(spark, sf_dir, "documents")
    bucket = F.expr(_split_bucket("STRING"))
    split = (
        F.when(bucket < _TRAIN_LT, "train").when(bucket < _VAL_LT, "val").otherwise("test")
    )
    return docs.groupBy(split.alias("split"), "lang").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# ------------------------------------------------- repetition quality

_REP_THRESHOLD_SQL = "1.0e-1"  # e-notation: parses as DOUBLE in both engines


@query(
    "quality_repetition_filter",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS words
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               array_to_string(words[r.r + 1 : r.r + 2], ' ') AS gram
        FROM toks, LATERAL (SELECT unnest(range(greatest(len(words) - 1, 0))) AS r) r
    ),
    freq AS (
        SELECT doc_id, gram, COUNT(*) AS cnt FROM grams GROUP BY doc_id, gram
    ),
    agg AS (
        SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams2,
               CAST(MAX(cnt) AS BIGINT) AS max_gram_freq
        FROM freq GROUP BY doc_id
    )
    SELECT doc_id, n_grams2, max_gram_freq,
           CAST(max_gram_freq AS DOUBLE) / CAST(n_grams2 AS DOUBLE) AS rep_ratio,
           CAST(CAST(max_gram_freq AS DOUBLE) / CAST(n_grams2 AS DOUBLE)
                > {_REP_THRESHOLD_SQL} AS INT) AS is_repetitive
    FROM agg
    """,
    tags=("llm", "quality", "repetition"),
)
def quality_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signal: the most frequent word
    bigram's share of all bigram instances per document. Synthetic or
    template-generated text repeats short n-grams far more than
    natural prose; documents whose top bigram exceeds 10% of instances
    are flagged. Unlike the shingle operators this counts INSTANCES
    (not distinct n-grams), so the per-doc aggregation is the whole
    cost — one explode + two groupBys keyed by doc_id (uniform keys,
    partial aggregation applies). Integer counts + one exact int/int
    division — cross-engine exact; the threshold literal is written in
    e-notation so both engines parse it as DOUBLE.

    Scale design: the statistic is entirely per-document, so it is
    computed per ROW with array algebra — sort the bigram array and
    take the longest equal-run — instead of exploding ~L bigram
    instances per doc and shuffling them into a (doc_id, gram)
    aggregation (the first implementation; at sf0.1 that shuffle was
    5M rows and dominated the query at 5.9 s vs ~1.2 s now). The plan
    is a projection over the scan — no aggregation exchange at all;
    load_spread's conditional repartition moves (doc_id, text) to
    spread the CPU-bound map over the testbed's single row-group, and
    does nothing on a real multi-split lake scan. The oracle keeps the
    declarative explode + GROUP BY form — two different algorithms,
    identical integers."""
    docs = load_spread(spark, sf_dir, "documents")
    words = words_col(F.col("text"))
    n2 = F.size(words) - 1
    grams = F.when(
        n2 > 0,
        F.transform(F.sequence(F.lit(0), n2 - 1), lambda i: F.concat_ws(" ", F.slice(words, i + 1, 2))),
    ).otherwise(F.array().cast("array<string>"))
    # stage the sorted array as its own column: it is referenced twice
    # below, which keeps CollapseProject from inlining the (expensive)
    # sort into every consumer — and critically the fold references it
    # exactly once, as the input collection, so it is computed once per
    # row (an index-lambda formulation that closed over the array was
    # re-evaluating the sort per ELEMENT: O(L^2 log L) per doc)
    # the bigram build + sort is CPU-bound: docs comes pre-spread via
    # tables.load_spread (conditional — no gratuitous shuffle on a
    # real multi-split lake)
    staged = docs.filter(n2 > 0).select("doc_id", F.array_sort(grams).alias("gs"))
    # single left-to-right pass over the sorted bigrams tracking
    # (current run length, best run length, previous gram); the longest
    # equal-run in the sorted array IS the max bigram frequency
    init = F.struct(
        F.lit(0).alias("cur"), F.lit(0).alias("best"), F.lit(None).cast("string").alias("prev")
    )

    def _step(acc: Column, x: Column) -> Column:
        cur = F.when(acc["prev"].isNotNull() & (x == acc["prev"]), acc["cur"] + 1).otherwise(
            F.lit(1)
        )
        return F.struct(cur.alias("cur"), F.greatest(acc["best"], cur).alias("best"), x.alias("prev"))

    max_freq = F.aggregate(F.col("gs"), init, _step, lambda acc: acc["best"])
    per_doc = staged.select(
        "doc_id",
        F.size("gs").cast("long").alias("n_grams2"),
        max_freq.cast("long").alias("max_gram_freq"),
    )
    rep = F.col("max_gram_freq").cast("double") / F.col("n_grams2").cast("double")
    return per_doc.select(
        "doc_id",
        "n_grams2",
        "max_gram_freq",
        rep.alias("rep_ratio"),
        (rep > F.lit(0.1)).cast("int").alias("is_repetitive"),
    )


# ------------------------------------------------ duplicate-line signals


@query(
    "quality_dupline_signals",
    oracle="""
    WITH seeded AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 3 = 0
                       THEN chr(10) || 'tail ' || CAST(doc_id AS VARCHAR)
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN chr(10) || 'dup line ' || CAST(doc_id AS VARCHAR)
                            || chr(10) || 'dup line ' || CAST(doc_id AS VARCHAR)
                       ELSE '' END AS txt
        FROM documents
    ),
    ls AS (
        SELECT doc_id,
               list_sort(list_filter(string_split(txt, chr(10)), x -> x <> '')) AS lines
        FROM seeded
    ),
    fl AS (
        SELECT doc_id, lines, len(lines) AS n_lines,
               list_transform(range(len(lines)), i ->
                   CASE WHEN (i > 0 AND lines[i + 1] = lines[i])
                          OR (i < len(lines) - 1 AND lines[i + 1] = lines[i + 2])
                        THEN 1 ELSE 0 END) AS flags
        FROM ls
    ),
    ag AS (
        SELECT doc_id,
               CAST(n_lines AS INT) AS n_lines,
               CAST(list_sum(flags) AS INT) AS n_dup_lines,
               CAST(list_sum(list_transform(range(n_lines),
                    i -> flags[i + 1] * length(lines[i + 1]))) AS BIGINT) AS dup_chars,
               CAST(list_sum(list_transform(lines, x -> length(x))) AS BIGINT) AS tot_chars
        FROM fl WHERE n_lines > 0
    )
    SELECT doc_id, n_lines, n_dup_lines,
           CAST(n_dup_lines AS DOUBLE) / n_lines AS dup_line_fraction,
           CAST(dup_chars AS DOUBLE) / tot_chars AS dup_char_fraction
    FROM ag
    """,
    tags=("llm", "quality", "repetition", "gopher"),
)
def quality_dupline_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's OTHER repetition signals (Rae et al. 2021 Table A1
    rows the top-bigram filter doesn't cover): per document, the
    fraction of non-empty lines that belong to a duplicated line
    group, by count AND by character mass — boilerplate nav bars,
    repeated footers, and template spam show up here before any
    n-gram statistic moves. The single-line synthetic corpus gets a
    deterministic seeded structure (the scrub_pii_stats discipline,
    identical in both engines): every 3rd doc a unique tail line,
    every 5th doc a duplicated line PAIR — so the signal is
    observable under the oracle gate instead of vacuously zero.

    An element is duplicated iff it equals a neighbor in the SORTED
    line array — equal elements are adjacent under any total order,
    so the flag count is sort-order independent (no cross-engine
    collation hazard). Computed per ROW with array algebra (sort +
    one indexed transform + folds) following
    quality_repetition_filter's measured lesson: no (doc_id, line)
    explode, no aggregation exchange — the plan is a projection over
    the scan, embarrassingly parallel at 100 TB. The sorted array is
    staged as its own column so the fold doesn't re-sort per element
    (the same module's O(L^2 log L) index-lambda lesson)."""
    docs = load_spread(spark, sf_dir, "documents")
    nl = F.lit("\n")
    did = F.col("doc_id").cast("string")
    txt = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(nl, F.lit("tail "), did)
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(nl, F.lit("dup line "), did, nl, F.lit("dup line "), did),
        ).otherwise(F.lit("")),
    )
    staged = docs.select(
        "doc_id",
        F.array_sort(F.filter(F.split(txt, "\n"), lambda x: x != "")).alias("lines"),
    ).filter(F.size("lines") > 0)
    lines = F.col("lines")
    # F.get is 0-based and returns NULL out of range (ANSI-safe where
    # element_at would throw); line elements are never NULL ('' is
    # filtered), so a NULL comparison means "no such neighbor"
    flags = F.transform(
        lines,
        lambda x, i: F.coalesce(
            ((x == F.get(lines, i - 1)) | (x == F.get(lines, i + 1))).cast("int"),
            F.lit(0),
        ),
    )
    staged2 = staged.select(
        "doc_id", lines, F.size(lines).alias("n_lines"), flags.alias("flags")
    )
    n_dup = F.aggregate("flags", F.lit(0), lambda a, v: a + v)
    dup_chars = F.aggregate(
        F.zip_with("flags", F.transform("lines", lambda x: F.length(x)), lambda f, L: f * L),
        F.lit(0),
        lambda a, v: a + v,
    )
    tot_chars = F.aggregate(
        F.transform("lines", lambda x: F.length(x)), F.lit(0), lambda a, v: a + v
    )
    return staged2.select(
        "doc_id",
        F.col("n_lines").cast("int").alias("n_lines"),
        n_dup.cast("int").alias("n_dup_lines"),
        (n_dup.cast("double") / F.col("n_lines")).alias("dup_line_fraction"),
        (dup_chars.cast("long").cast("double") / tot_chars.cast("long")).alias(
            "dup_char_fraction"
        ),
    )


# ------------------------------------------------- incremental merge

_BATCH_MOD = 10  # stand-in incremental batch: every 10th document


@query(
    "dedup_incremental_merge",
    oracle=f"""
    WITH batch AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % {_BATCH_MOD} = {_BATCH_MOD - 1}
    ),
    corpus AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % {_BATCH_MOD} <> {_BATCH_MOD - 1}
    ),
    hits AS (
        SELECT c.h, MIN(c.doc_id) AS keeper
        FROM corpus c JOIN (SELECT DISTINCT h FROM batch) b ON b.h = c.h
        GROUP BY c.h
    ),
    inbatch AS (
        SELECT doc_id, h, MIN(doc_id) OVER (PARTITION BY h) AS first_in_batch
        FROM batch
    )
    SELECT i.doc_id,
           COALESCE(hit.keeper,
                    CASE WHEN i.first_in_batch < i.doc_id THEN i.first_in_batch END) AS dup_of,
           CAST(hit.keeper IS NULL AND i.first_in_batch = i.doc_id AS INT) AS is_new_unique
    FROM inbatch i
    LEFT JOIN hits hit ON hit.h = i.h
    """,
    tags=("llm", "dedup", "incremental"),
)
def dedup_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion: dedup a NEW batch (stood in by
    every {_BATCH_MOD}th doc) against the existing corpus state plus
    itself, by content hash. Output per batch doc: the existing keeper
    it duplicates (or the earlier batch doc), and whether it enters
    the corpus as new unique content.

    Scale design: the asymmetry is the whole point — the corpus is
    100 TB, the batch is an increment. The batch's distinct hash set
    broadcasts; the corpus side is a scan + map-side probe whose
    survivors (hash collisions with the batch, a batch-sized set) are
    the only corpus rows that ever reach a shuffle. The corpus is
    never re-shuffled to absorb an increment — the property that
    makes daily ingestion O(batch), not O(corpus)."""
    docs = load(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % _BATCH_MOD == _BATCH_MOD - 1
    batch = docs.filter(is_batch).select("doc_id", F.md5("text").alias("h"))
    corpus = docs.filter(~is_batch).select("doc_id", F.md5("text").alias("h"))
    hits = (
        corpus.join(F.broadcast(batch.select("h").distinct()), "h")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keeper"))
    )
    inbatch = batch.withColumn("first_in_batch", F.min("doc_id").over(W.partitionBy("h")))
    return (
        inbatch.join(F.broadcast(hits), "h", "left")
        .select(
            "doc_id",
            F.coalesce(
                "keeper",
                F.when(F.col("first_in_batch") < F.col("doc_id"), F.col("first_in_batch")),
            ).alias("dup_of"),
            (F.col("keeper").isNull() & (F.col("first_in_batch") == F.col("doc_id")))
            .cast("int")
            .alias("is_new_unique"),
        )
    )


# ---------------------------------------------- end-to-end manifest

_CONTAM_MAX = 0.5  # drop docs sharing > 50% of shingles with the benchmark


@query(
    "training_corpus_manifest",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    {_SQL_SHINGLES_CAPPED},
    bench AS (SELECT DISTINCT shingle FROM shc WHERE doc_id % {_BENCH_MOD} = 0),
    n AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shc GROUP BY doc_id),
    hits AS (
        SELECT c.doc_id, COUNT(*) AS n_hit
        FROM shc c JOIN bench b ON b.shingle = c.shingle
        GROUP BY c.doc_id
    ),
    contam AS (
        SELECT n.doc_id,
               CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(n.n_shingles AS DOUBLE) AS ratio
        FROM n LEFT JOIN hits h ON h.doc_id = n.doc_id
    ),
    keepers AS (
        SELECT doc_id, md5(text) AS h,
               MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        FROM documents
    )
    SELECT d.doc_id,
           CASE WHEN {_split_bucket("VARCHAR", "d.doc_id")} < {_TRAIN_LT} THEN 'train'
                WHEN {_split_bucket("VARCHAR", "d.doc_id")} < {_VAL_LT} THEN 'val'
                ELSE 'test' END AS split,
           CAST(k.doc_id = k.keeper AS INT) AS is_keeper,
           CAST(len(list_filter(string_split_regex(lower(d.text), '\\s+'), x -> x <> '')) >= 20
                AS INT) AS passes_quality,
           CAST(COALESCE(c.ratio, 0.0e0) <= {_CONTAM_MAX}e0 AND d.doc_id % {_BENCH_MOD} <> 0
                AS INT) AS passes_contamination,
           CAST(k.doc_id = k.keeper
                AND len(list_filter(string_split_regex(lower(d.text), '\\s+'), x -> x <> '')) >= 20
                AND COALESCE(c.ratio, 0.0e0) <= {_CONTAM_MAX}e0
                AND d.doc_id % {_BENCH_MOD} <> 0 AS INT) AS in_training_corpus
    FROM documents d
    JOIN keepers k ON k.doc_id = d.doc_id
    LEFT JOIN contam c ON c.doc_id = d.doc_id
    """,
    tags=("llm", "pipeline", "manifest"),
)
def training_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-build decision — the single manifest a
    training run consumes. Per document: its reproducible hash split,
    whether it is the exact-dedup keeper of its content hash, whether
    it passes the token-count quality gate, and whether it survives
    the benchmark-contamination screen (benchmark docs themselves are
    excluded from training). `in_training_corpus` is the final keep
    bit a tokenizer job filters on.

    Composition cost at scale: one shingle pass feeding the broadcast
    contamination probe, one content-hash window (shuffles a 128-bit
    uniform key), one token-count map — no component adds a corpus
    shuffle beyond its own documented shape. The split/quality/
    contamination columns come from the same operators registered
    individually (split_train_val_test, corpus_clean_pipeline,
    contamination_ngram_overlap); this query is their end-to-end
    contract."""
    from bigdata_project_spark.caching import tracked_persist

    docs = load(spark, sf_dir, "documents")
    # persisted: three shingle consumers (bench set, counts, probe)
    sh = tracked_persist(shingle_df_capped(spark, sf_dir))
    is_bench_doc = F.col("doc_id") % _BENCH_MOD == 0
    bench = sh.filter(is_bench_doc).select("shingle").distinct()
    n = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        sh.join(F.broadcast(bench), "shingle").groupBy("doc_id").agg(F.count("*").alias("n_hit"))
    )
    contam = n.join(hits, "doc_id", "left").select(
        "doc_id",
        (F.coalesce("n_hit", F.lit(0)).cast("double") / F.col("n_shingles").cast("double")).alias(
            "ratio"
        ),
    )
    keeper = F.min("doc_id").over(W.partitionBy(F.md5("text")))
    n_tokens = F.size(words_col(F.col("text")))
    bucket = F.expr(_split_bucket("STRING"))
    split = F.when(bucket < _TRAIN_LT, "train").when(bucket < _VAL_LT, "val").otherwise("test")
    base = docs.select(
        "doc_id",
        split.alias("split"),
        (F.col("doc_id") == keeper).cast("int").alias("is_keeper"),
        (n_tokens >= 20).cast("int").alias("passes_quality"),
    )
    ratio_ok = F.coalesce("ratio", F.lit(0.0)) <= _CONTAM_MAX
    return (
        base.join(contam, "doc_id", "left")
        .select(
            "doc_id",
            "split",
            "is_keeper",
            "passes_quality",
            (ratio_ok & ~is_bench_doc).cast("int").alias("passes_contamination"),
            (
                (F.col("is_keeper") == 1)
                & (F.col("passes_quality") == 1)
                & ratio_ok
                & ~is_bench_doc
            )
            .cast("int")
            .alias("in_training_corpus"),
        )
    )


@query(
    "pack_sequences_global",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   ORDER BY source, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        FROM toks
    )
    SELECT doc_id, source, n_tokens,
           cum_before // {_CTX_TOKENS} AS pack_id
    FROM cum
    """,
    tags=("llm", "packing", "window", "two-stage"),
)
def pack_sequences_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL sequence packing — one corpus-wide pack numbering in
    deterministic (source, doc_id) order — without ever sorting the
    corpus into a single partition.

    Two-stage cumsum: (1) the running count WITHIN each source is a
    partition-parallel window (hashpartitioning(source)); (2) each
    source's global OFFSET is the running total over per-source sums —
    a window over #sources rows (tiny; the only SinglePartition work),
    broadcast back onto the per-source rows. global_cumsum = offset +
    within_cumsum, exactly the value a full ORDER BY cumsum produces
    (the oracle computes it that way). This is the general recipe for
    any global prefix aggregation at 100 TB: per-shard scan + shard-
    summary reduction + broadcast join, never a global sort."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", F.size(words_col(F.col("text"))).alias("n_tokens"))
    w_in = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    within = toks.withColumn(
        "cum_in", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)).cast("long")
    )
    totals = toks.groupBy("source").agg(F.sum("n_tokens").cast("long").alias("src_total"))
    w_src = W.orderBy("source").rowsBetween(W.unboundedPreceding, -1)
    offsets = totals.select(
        "source", F.coalesce(F.sum("src_total").over(w_src), F.lit(0)).cast("long").alias("offset")
    )
    return (
        within.join(F.broadcast(offsets), "source")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.expr(f"(offset + cum_in) div {_CTX_TOKENS}").alias("pack_id"),
        )
    )


# ------------------------------------------- fixed-k stratum sample

_SAMPLE_K = 50


@query(
    "sample_fixed_k_per_stratum",
    oracle=f"""
    SELECT lang, doc_id, hash_rank FROM (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS hash_rank
        FROM documents
    ) t WHERE hash_rank <= {_SAMPLE_K}
    """,
    tags=("llm", "sample", "stratified"),
)
def sample_fixed_k_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE stratified sampling: exactly min(k, |stratum|) docs
    per language, chosen by md5(doc_id) rank — the deterministic way
    to carve a fixed-budget eval set per stratum (rate-based sampling,
    `sample_stratified_hash`, cannot guarantee an exact count). The
    hash order is uniform and reproducible across runs/engines/
    partitionings, and adding documents to a stratum only displaces
    boundary members rather than reshuffling the whole sample.

    Scale: one shuffle on lang for the rank window; Spark compiles the
    rank<=k filter to WindowGroupLimit, so each map task keeps only
    its local top-k before the exchange — the shuffle carries
    O(k x partitions), not the corpus."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("hash_rank"))
        .filter(F.col("hash_rank") <= _SAMPLE_K)
    )


# ------------------------------------------------- rarity quality score

_RARITY_SCALE = 10**9


@query(
    "text_rarity_score",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS token
        FROM documents
    ),
    df AS (SELECT token, COUNT(*) AS n_docs FROM toks GROUP BY token),
    scored AS (
        SELECT t.doc_id,
               COUNT(*) AS n_distinct_tokens,
               SUM({_RARITY_SCALE} // d.n_docs) AS inv_sum
        FROM toks t JOIN df d ON d.token = t.token
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_distinct_tokens,
           CAST(inv_sum AS BIGINT) AS inv_sum,
           CAST(inv_sum AS DOUBLE) / CAST(n_distinct_tokens AS DOUBLE) / {_RARITY_SCALE}.0e0
             AS rarity_score
    FROM scored
    """,
    tags=("llm", "quality", "text"),
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram rarity score — the CCNet-style 'how unusual is this
    document's vocabulary' quality signal: mean inverse document
    frequency over the doc's distinct tokens. High scores flag docs
    full of tokens the corpus rarely uses (gibberish, boilerplate-free
    rare content); low scores flag stopword soup.

    Determinism: log-probabilities sum in engine-dependent order and
    differ in last-ulp, so the score uses scaled INTEGER reciprocals —
    floor(1e9 / df(token)) per token, summed exactly in any order —
    and divides once at the end (exact int-to-double, one IEEE
    division). Scale: token-df join shuffles on token (uniform after
    the df aggregate's map-side combine), per-doc agg shuffles on
    doc_id; no broadcast assumption on the vocabulary."""
    docs = load_spread(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(words_col(F.col("text")))).alias("token")
    )
    df_counts = toks.groupBy("token").agg(F.count("*").alias("n_docs"))
    scored = (
        toks.join(df_counts, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_distinct_tokens"),
            F.sum(F.expr(f"{_RARITY_SCALE} div n_docs")).alias("inv_sum"),
        )
    )
    return scored.select(
        "doc_id",
        "n_distinct_tokens",
        F.col("inv_sum").cast("long").alias("inv_sum"),
        (
            F.col("inv_sum").cast("double")
            / F.col("n_distinct_tokens").cast("double")
            / F.lit(float(_RARITY_SCALE))
        ).alias("rarity_score"),
    )


# ------------------------------------------------- decontamination rewrite


@query(
    "contamination_decontam_rewrite",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    {_SQL_SHINGLES_CAPPED},
    bench AS (SELECT DISTINCT shingle FROM shc WHERE doc_id % {_BENCH_MOD} = 0),
    wo AS (
        SELECT doc_id, {spans.SQL_WORDS} AS words
        FROM documents WHERE doc_id % {_BENCH_MOD} <> 0
    ),
    {spans.sql_windows(SHINGLE_N)},
    hits AS (SELECT win.doc_id, win.i FROM win JOIN bench b ON win.w = b.shingle),
    {spans.sql_intervals(SHINGLE_N)},
    {spans.SQL_EXCISE}
    """,
    tags=("llm", "contamination", "rewrite"),
)
def contamination_decontam_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The act-on side of `contamination_ngram_overlap`: rewrite every
    training document with each benchmark-overlapping word-5-gram span
    cut out (Lee-et-al-style span excision applied to decontamination:
    the document survives, the leaked eval text does not). Dropping
    whole documents at a ratio threshold throws away the 99% clean
    tokens around a one-line leak; span excision keeps them.

    Detection is the screen's: the benchmark set is every
    {_BENCH_MOD}th doc's distinct df-capped shingles
    (`shingle_df_capped`: a boilerplate shingle with corpus df >
    MAX_SHINGLE_DF is not contamination evidence on either side), so
    a training doc has n_removed > 0 exactly when the screen scores
    it n_contaminated > 0 (tests/test_decontam.py pins the
    equivalence per doc). The hits are the stride-1 windows whose
    lowercased text is a benchmark shingle, and `operators/spans.py`
    merges and cuts them, keeping the original case.

    Scale: the benchmark shingle set broadcasts (eval sets are
    thousands of docs), so the corpus side is one window scan with a
    map-side hash probe and never shuffles for candidate generation.
    The df cap adds the screen's corpus-wide shingle aggregate."""
    from bigdata_project_spark.caching import tracked_persist

    docs = load_spread(spark, sf_dir, "documents")
    sh = tracked_persist(shingle_df_capped(spark, sf_dir))
    bench = sh.filter(F.col("doc_id") % _BENCH_MOD == 0).select(F.col("shingle").alias("w")).distinct()
    base = docs.filter(F.col("doc_id") % _BENCH_MOD != 0).select(
        "doc_id", spans.words(F.col("text")).alias("words")
    )
    hits = spans.windows(base, SHINGLE_N).join(F.broadcast(bench), "w").select("doc_id", "i")
    return spans.excise(base, spans.intervals(hits, SHINGLE_N))
