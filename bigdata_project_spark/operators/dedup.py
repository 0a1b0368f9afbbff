"""Deduplication operators over the documents table (SURVEY.md §2.10).

The reference's only dedup is an in-memory `set()` of ids
(CrawlData.py:12,34). This module is the 100 TB-scale dedup family a
training-data pipeline needs:

- exact content-hash dedup (md5 group-by);
- word-shingle n-gram Jaccard similarity (all candidate pairs that
  share a shingle — exact but O(pairs-sharing-a-shingle));
- MinHash + LSH banding (the scale path: the shingle->signature->
  band->bucket-join pipeline bounds the candidate set, then exact
  Jaccard verifies candidates).

Everything is deterministic md5-based arithmetic, so each operator
has a full DuckDB oracle — no seeded randomness. All shingling and
hashing stays in JVM built-ins (split/transform/md5) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.caching import tracked_persist
from bigdata_project_spark.operators.nearpairs import (
    candidates,
    jaccard,
    overlap,
    sql_candidates,
    sql_jaccard,
    sql_overlap,
    sql_verify,
    verify,
)
from bigdata_project_spark.registry import query
from bigdata_project_spark.tables import load, load_spread

SHINGLE_N = 5

# Document-frequency cap for shingle-equi-join candidate generation: a
# shingle present in more than MAX_SHINGLE_DF documents (boilerplate,
# templates, licence headers) is dropped from the capped shingle set
# before any self-join — one hot shingle would otherwise contribute an
# O(df²) candidate bucket, which is quadratic at corpus scale. At the
# test scale factors max df is 3-4 so the cap never fires (verified),
# but at 100 TB it is the difference between bounded (≤ df·K pairs per
# shingle) and quadratic work. Mirrored exactly in the DuckDB oracles.
MAX_SHINGLE_DF = 64

# DuckDB CTEs producing (doc_id, shingle) distinct word-5-grams and
# per-doc shingle counts — mirrored by shingle_df() below.
_SQL_SHINGLES = f"""
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS words
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(words[r.r + 1 : r.r + {SHINGLE_N}], ' ') AS shingle
        FROM toks, LATERAL (SELECT unnest(range(greatest(len(words) - {SHINGLE_N - 1}, 0))) AS r) r
    ),
    doc_counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)
"""

# Hot-shingle-capped shingle set + per-doc counts over it (mirrored by
# shingle_df_capped() below). Composes after _SQL_SHINGLES.
_SQL_SHINGLES_CAPPED = f"""
    shc AS (
        SELECT doc_id, shingle
        FROM (SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh) t
        WHERE df <= {MAX_SHINGLE_DF}
    ),
    cap_counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id)
"""


def words_col(text: Column) -> Column:
    """Lowercased whitespace tokens, empties removed."""
    return F.array_remove(F.split(F.lower(text), r"\s+"), "")


def shingle_df(spark: SparkSession, sf_dir: str, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle): distinct word n-gram shingles per document.

    Shingling is pure array algebra (split/sequence/transform/slice)
    inside whole-stage codegen; explode fans out to (doc, shingle)
    rows for the bucket/candidate joins.
    """
    # shingling is CPU-bound: spread the single-split testbed scan
    # across cores via the shared conditional gate (tables.load_spread
    # — fires only when the scan has fewer splits than partitions)
    docs = load_spread(spark, sf_dir, "documents")
    words = words_col(F.col("text"))
    n_sh = F.size(words) - (n - 1)
    shingles = F.when(
        n_sh > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n_sh - 1),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select("doc_id", F.explode(shingles).alias("shingle"))


def shingle_df_capped(
    spark: SparkSession, sf_dir: str, n: int = SHINGLE_N, max_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """(doc_id, shingle) with hot shingles (document frequency >
    max_df) removed — the candidate-generation-safe shingle set.

    Strategy: aggregate per-shingle df (map-side partial combine, so
    the exchange carries (shingle, partial count) pairs, never the
    doc_id rows), keep only shingles with df > max_df — a set whose
    size is bounded by total_instances / max_df and in practice tiny
    (boilerplate) — and broadcast it into a LEFT ANTI join. The
    (doc_id, shingle) rows themselves are never shuffled just to be
    capped, which matters for consumers like the contamination probe
    whose remaining plan is shuffle-free on the corpus side. Dropping
    a hot shingle loses only boilerplate evidence; the Jaccard
    denominator is computed over the same capped set in both engines,
    so results stay cross-engine exact.
    """
    sh = shingle_df(spark, sf_dir, n)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti").select("doc_id", "shingle")


@query(
    "dedup_exact_hash",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    tags=("dedup", "llm"),
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the min doc_id.

    Deterministic replacement for dropDuplicates(): at 100 TB this is
    one shuffle on a 128-bit hash (uniform keys, no skew) instead of
    shuffling full document text.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    {_SQL_SHINGLES_CAPPED},
    {sql_overlap("shc")},
    {sql_jaccard("cap_counts")}
    SELECT doc_a, doc_b, n_common, jaccard FROM pairs
    """,
    tags=("dedup", "llm"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: exact word-5-gram Jaccard for every pair of
    documents sharing at least one non-hot shingle. Candidate pairs
    come from a shingle equi-join over the df-capped shingle set
    (shingle_df_capped): without the cap one boilerplate shingle in df
    documents yields an O(df²) bucket; with it each shingle contributes
    at most MAX_SHINGLE_DF² pairs, so the join stays bounded at corpus
    scale. The MinHash-LSH query below is the still-cheaper form when
    even the capped candidate set is too large."""
    sh = shingle_df_capped(spark, sf_dir)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    return jaccard(overlap(sh), counts).select("doc_a", "doc_b", "n_common", "jaccard")


_N_HASHES = 8
_BAND_SIZE = 2  # 4 bands x 2 rows: P(candidate) = 1-(1-j^2)^4


def _minhash_aggs() -> list[Column]:
    """8 independent 32-bit MinHash functions from 2 md5 digests:
    hash i is an 8-hex-char slice of md5(shingle) (i<4) or
    md5(shingle || '#') (i>=4). One-quarter the hashing cost of
    8 separate seeded md5s; min over hex slices is plain binary
    string order, identical across engines."""
    d0 = F.md5(F.col("shingle"))
    d1 = F.md5(F.concat(F.col("shingle"), F.lit("#")))
    aggs = []
    for i in range(_N_HASHES):
        digest = d0 if i < 4 else d1
        start = 1 + 8 * (i % 4)
        aggs.append(F.min(F.substring(digest, start, 8)).alias(f"h{i}"))
    return aggs


_SEED_SUFFIX = " || '#'"
_SQL_SIGS = ",\n".join(
    "MIN(substring(md5(shingle{sfx}), {start}, 8)) AS h{i}".format(
        sfx="" if i < 4 else _SEED_SUFFIX, start=1 + 8 * (i % 4), i=i
    )
    for i in range(_N_HASHES)
)
_SQL_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, {k} AS band, h{2 * k} || h{2 * k + 1} AS band_key FROM sigs"
    for k in range(_N_HASHES // _BAND_SIZE)
)


def _minhash_lsh(spark: SparkSession, sf_dir: str, aggs: list[Column], band_key) -> DataFrame:
    """The MinHash-LSH pipeline both variants run: the 8-hash
    signature `aggs` (h0..h7) -> 4 bands of 2, each keyed by
    band_key(h2k, h2k+1) -> bucket-join candidates -> exact Jaccard of
    the candidates only.

    The shingles feed both the signatures and the verification join,
    and the signatures feed the bands and the count lookup, so both
    are persisted once (tracked_persist: they feed the returned lazy
    plan, so caching.release_cached frees them after it is collected).
    The band keys come out of one posexplode over sigs, not a 4-way
    union that would re-read sigs once per band."""
    sh = tracked_persist(shingle_df(spark, sf_dir))
    sigs = tracked_persist(sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"), *aggs))
    keys = [band_key(F.col(f"h{2 * k}"), F.col(f"h{2 * k + 1}")) for k in range(_N_HASHES // _BAND_SIZE)]
    bands = sigs.select("doc_id", F.posexplode(F.array(*keys)).alias("band", "band_key"))
    pairs = jaccard(verify(candidates(bands), sh), sigs.select("doc_id", "n_sh"))
    return pairs.select("doc_a", "doc_b", "jaccard")


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    sigs AS (SELECT doc_id, {_SQL_SIGS} FROM sh GROUP BY doc_id),
    bands AS ({_SQL_BANDS}),
    {sql_candidates("bands")},
    {sql_verify("sh")},
    {sql_jaccard("doc_counts")}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
    tags=("dedup", "llm", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pipeline: shingle -> 8-hash MinHash
    signature -> 4 bands of 2 -> bucket-join candidates -> exact
    Jaccard verification of candidates only.

    This is the 100 TB shape: the only wide operation is an equi-join
    on (band, band_key) whose buckets are near-dup clusters, instead
    of joining on raw shingles (whose hot keys explode). The eight
    hashes are 8-hex-char slices of two digests, md5(shingle) and
    md5(shingle || '#'), and a band key concatenates two of them: no
    RNG state, and the same strings in both engines.
    """
    return _minhash_lsh(spark, sf_dir, _minhash_aggs(), F.concat)


_HEX = "0123456789abcdef"

# Shared CTE chain producing (doc_id, simhash64) — used by the
# signature query's oracle AND the hamming-pair search's oracle so
# the two stay in lock-step.
_SQL_SIMHASH_SIGS = f"""
    toks AS (
        SELECT DISTINCT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS token
        FROM documents
    ),
    nibbles AS (
        SELECT doc_id, p.p AS p,
               instr('{_HEX}', substring(md5(token), p.p + 1, 1)) - 1 AS v
        FROM toks, LATERAL (SELECT unnest(range(16)) AS p) p
    ),
    bitsums AS (
        SELECT doc_id, p,
               SUM(2 * ((v // 8) % 2) - 1) AS s3,
               SUM(2 * ((v // 4) % 2) - 1) AS s2,
               SUM(2 * ((v // 2) % 2) - 1) AS s1,
               SUM(2 * (v % 2) - 1) AS s0
        FROM nibbles GROUP BY doc_id, p
    ),
    chars AS (
        SELECT doc_id, p,
               substring('{_HEX}',
                 CAST(8 * CAST(s3 > 0 AS INT) + 4 * CAST(s2 > 0 AS INT)
                    + 2 * CAST(s1 > 0 AS INT) + CAST(s0 > 0 AS INT) AS INT) + 1, 1) AS c
        FROM bitsums
    ),
    sigs AS (
        SELECT doc_id, string_agg(c, '' ORDER BY p) AS simhash64
        FROM chars GROUP BY doc_id
    )"""


@query(
    "dedup_simhash64",
    oracle=f"""
    WITH {_SQL_SIMHASH_SIGS}
    SELECT doc_id, simhash64 FROM sigs
    """,
    tags=("dedup", "llm", "simhash"),
)
def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: 64-bit locality-sensitive document signature.

    Each distinct token votes +1/-1 on every one of 64 bits according
    to its md5; the signature takes the sign of each bit-sum. Near-dup
    docs differ in few bits (Hamming distance), so at scale signatures
    are compared by banding the 64 bits into k-bit prefixes —
    constant-size per-doc state vs. MinHash's per-shingle rows.
    Deterministic md5 voting; 16 hex chars out, nibble-wise.
    """
    docs = load_spread(spark, sf_dir, "documents")
    toks = (
        docs
        .select("doc_id", F.explode(F.array_distinct(words_col(F.col("text")))).alias("token"))
    )
    nibbles = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("p"),
        F.md5("token").alias("h"),
    ).select(
        "doc_id",
        "p",
        (F.expr(f"instr('{_HEX}', substring(h, p + 1, 1))") - 1).alias("v"),
    )
    v = F.col("v")
    bitsums = nibbles.groupBy("doc_id", "p").agg(
        F.sum(2 * ((v / 8).cast("long") % 2) - 1).alias("s3"),
        F.sum(2 * ((v / 4).cast("long") % 2) - 1).alias("s2"),
        F.sum(2 * ((v / 2).cast("long") % 2) - 1).alias("s1"),
        F.sum(2 * (v % 2) - 1).alias("s0"),
    )
    nib_val = (
        8 * (F.col("s3") > 0).cast("int")
        + 4 * (F.col("s2") > 0).cast("int")
        + 2 * (F.col("s1") > 0).cast("int")
        + (F.col("s0") > 0).cast("int")
    )
    chars = bitsums.select("doc_id", "p", nib_val.alias("nv")).select(
        "doc_id", "p", F.expr(f"substring('{_HEX}', nv + 1, 1)").alias("c")
    )
    return (
        chars.groupBy("doc_id")
        .agg(F.concat_ws("", F.transform(F.array_sort(F.collect_list(F.struct("p", "c"))), lambda s: s["c"])).alias("simhash64"))
    )


def sql_pigeonhole_ctes(sig_col: str) -> str:
    """The blocking half of the shared pigeonhole oracle: `blocks` and
    `cand` CTEs over a preceding CTE named `sigs` with columns
    (doc_id, {sig_col})."""
    return f"""blocks AS (
        SELECT doc_id, {sig_col}, b.b AS b,
               substring({sig_col}, 4 * b.b + 1, 4) AS bk
        FROM sigs, LATERAL (SELECT unnest(range(4)) AS b) b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, x.doc_id AS doc_b,
               a.{sig_col} AS sig_a, x.{sig_col} AS sig_b
        FROM blocks a
        JOIN blocks x ON a.b = x.b AND a.bk = x.bk AND a.doc_id < x.doc_id
    )"""


def sql_pigeonhole_verify(radius: int = 3) -> str:
    """The verify half: exact nibble-wise popcount(xor) over `cand`,
    usable as a bare SELECT or wrapped into an `edges` CTE."""
    return f"""SELECT doc_a, doc_b, hamming FROM (
        SELECT doc_a, doc_b,
               CAST((SELECT SUM(bit_count(xor(
                    instr('{_HEX}', substring(sig_a, i.i, 1)) - 1,
                    instr('{_HEX}', substring(sig_b, i.i, 1)) - 1)))
                FROM (SELECT unnest(range(1, 17)) AS i) i) AS BIGINT) AS hamming
        FROM cand
    ) WHERE hamming <= {radius}"""


def sql_pigeonhole_hamming(sig_col: str, radius: int = 3) -> str:
    """Oracle tail shared by every 64-bit-signature near-dup query
    (SimHash docs, dHash images): pigeonhole blocking + exact
    nibble-wise popcount(xor), over a preceding CTE named `sigs`
    with columns (doc_id, {sig_col}). One SQL source of truth so the
    blocking/verify arithmetic cannot desynchronize across consumers."""
    return f"""{sql_pigeonhole_ctes(sig_col)}
    {sql_pigeonhole_verify(radius)}"""


def pigeonhole_hamming_pairs(sigs: DataFrame, sig_col: str, radius: int = 3) -> DataFrame:
    """All (doc_a < doc_b) pairs of 64-bit hex signatures within
    Hamming distance `radius` — EXACT for radius <= 3 by the
    pigeonhole bound (Manku et al.): a pair differing in <= 3 bits
    agrees exactly on at least one of 4 16-bit blocks, so candidates
    are a plain equi-join on (block index, block value), never an
    all-pairs scan. Callers persist `sigs` (both self-join sides
    read it). Shared by SimHash text near-dup and dHash image
    near-dup."""
    blocks = sigs.select(
        "doc_id",
        sig_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.substring(sig_col, 4 * b + 1, 4).alias("bk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("o"),
    ).select("doc_id", sig_col, F.col("o.b").alias("b"), F.col("o.bk").alias("bk"))
    a = blocks.select(
        F.col("doc_id").alias("doc_a"), F.col(sig_col).alias("sig_a"), "b", "bk"
    )
    x = blocks.select(
        F.col("doc_id").alias("doc_b"), F.col(sig_col).alias("sig_b"), "b", "bk"
    )
    cand = (
        a.join(x, ["b", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    ham = F.expr(
        f"aggregate(sequence(1, 16), 0, (acc, i) -> acc + bit_count("
        f"(instr('{_HEX}', substring(sig_a, i, 1)) - 1) ^ "
        f"(instr('{_HEX}', substring(sig_b, i, 1)) - 1)))"
    )
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= radius)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_simhash_hamming_pairs",
    oracle=f"""
    WITH {_SQL_SIMHASH_SIGS},
    {sql_pigeonhole_hamming("simhash64")}
    """,
    tags=("dedup", "llm", "simhash", "hamming"),
)
def dedup_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance <= 3 — the
    SEARCH half that makes the 64-bit signature useful at corpus
    scale (Manku et al.'s web-dedup recipe): pigeonhole blocking.
    Split each signature into 4 blocks of 16 bits; a pair differing
    in <= 3 bits leaves at least one block untouched, so candidates
    = pairs agreeing EXACTLY on some block — a plain equi-join on
    (block index, block value), never an all-pairs Hamming scan.
    Exact nibble-wise popcount( xor ) verifies candidates; the
    pigeonhole bound makes the result EXACT, not approximate
    (recall 1.0 for the declared radius by construction).

    Scale: per-block candidate groups are hash buckets over a
    16-bit key — the same bounded-bucket discipline as the LSH band
    join; a pair sharing several blocks is deduped by DISTINCT
    before the (cheap, integer) verification. Signatures come from
    the registered SimHash builder, persisted once across both
    sides of the self-join."""
    from bigdata_project_spark.caching import tracked_persist

    sigs = tracked_persist(dedup_simhash64(spark, sf_dir))
    return pigeonhole_hamming_pairs(sigs, "simhash64")


@query(
    "dedup_fingerprint_winnow",
    oracle="""
    WITH grams AS (
        SELECT doc_id, MIN(md5(substring(text, r.r + 1, 8))) AS fingerprint,
               COUNT(DISTINCT substring(text, r.r + 1, 8)) AS n_grams
        FROM documents, LATERAL (SELECT unnest(range(greatest(length(text) - 7, 1))) AS r) r
        GROUP BY doc_id
    )
    SELECT doc_id, fingerprint, n_grams,
           COUNT(*) OVER (PARTITION BY fingerprint) AS n_docs_sharing
    FROM grams
    """,
    tags=("dedup", "llm", "fingerprint"),
)
def dedup_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: min-hash over character 8-grams (a
    1-fingerprint winnowing scheme). Docs sharing a fingerprint are
    near-dup candidates; the fingerprint column is group-by-able at
    any scale (single 32-char key per doc)."""
    from pyspark.sql.window import Window as W

    docs = load(spark, sf_dir, "documents")
    pos = F.sequence(F.lit(0), F.greatest(F.length("text") - 8, F.lit(0)))
    grams = docs.select(
        "doc_id",
        F.explode(F.transform(pos, lambda i: F.substring(F.col("text"), i + 1, 8))).alias("gram"),
    )
    fp = grams.groupBy("doc_id").agg(
        F.min(F.md5("gram")).alias("fingerprint"),
        F.countDistinct("gram").alias("n_grams"),
    )
    return fp.select(
        "doc_id",
        "fingerprint",
        "n_grams",
        F.count("*").over(W.partitionBy("fingerprint")).alias("n_docs_sharing"),
    )


def _minhash_fast_aggs() -> list[Column]:
    """8 MinHash functions from seeded xxhash64 — the production hash
    path (SCALE.md): one 64-bit JVM hash per (shingle, seed) with no
    hex-string materialization. min over signed longs is a valid
    MinHash order (any total order works as long as it is consistent,
    which a fixed hash is)."""
    return [F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}") for i in range(_N_HASHES)]


@query(
    "dedup_minhash_lsh_fast",
    # no oracle BY DESIGN: xxhash64 has no DuckDB counterpart, so this
    # variant gets the rows-only driver check; its SEMANTICS are pinned
    # two other ways: tests assert every exact-duplicate pair from the
    # oracled md5 variant also surfaces here with jaccard 1.0
    # (identical docs have identical signatures under ANY hash), and
    # the verify stage is the same exact-Jaccard join both variants
    # share. The md5 twin (dedup_minhash_lsh) remains the oracled
    # correctness anchor; this is the documented throughput path.
    oracle=None,
    tags=("dedup", "llm", "lsh", "fast"),
)
def dedup_minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding with seeded xxhash64 signatures — same
    shingle -> signature -> band bucket join -> verify-candidates
    pipeline and output schema as dedup_minhash_lsh, without md5 or
    hex substrings: a hash is one xxhash64 per (shingle, seed) and the
    band key is one more xxhash64 over its two row hashes instead of a
    string concat. The signature aggregate runs 2.7x faster than the
    md5 one (SCALE.md, dedup family). At 100 TB signature computation
    dominates the map side, so this is the variant a production corpus
    build runs once cross-engine verification is no longer in the
    loop."""
    return _minhash_lsh(spark, sf_dir, _minhash_fast_aggs(), F.xxhash64)


@query(
    "dedup_lsh_pair_recall",
    oracle="""
    SELECT COUNT(DISTINCT (t.doc_a, t.doc_b)) AS n_true_pairs,
           (SELECT COUNT(*) FROM ({LSH}) l0 WHERE l0.jaccard >= 0.5) AS n_lsh_pairs,
           COUNT(DISTINCT CASE WHEN l.doc_a IS NOT NULL
                               THEN (t.doc_a, t.doc_b) END) AS n_hits,
           CASE WHEN COUNT(DISTINCT (t.doc_a, t.doc_b)) > 0
                THEN CAST(COUNT(DISTINCT CASE WHEN l.doc_a IS NOT NULL
                                              THEN (t.doc_a, t.doc_b) END) AS DOUBLE)
                     / COUNT(DISTINCT (t.doc_a, t.doc_b))
                ELSE 1.0 END AS pair_recall
    FROM (SELECT * FROM ({TRUE}) t0 WHERE t0.jaccard >= 0.5) t
    LEFT JOIN (SELECT * FROM ({LSH}) l1 WHERE l1.jaccard >= 0.5) l
      ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b
    """,
    tags=("dedup", "llm", "eval"),
)
def dedup_lsh_pair_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH index quality at the j >= 0.5 operating point
    (the 4-band x 2-row S-curve midpoint is (1/4)^(1/2) = 0.5, so
    this is the threshold the config is tuned for): pair-level recall
    of the banded LSH pairs against the exact capped-Jaccard ground
    truth — the eval that tells you whether a band/row configuration
    misses real duplicates before a 100 TB run. Both sides apply the
    SAME threshold; comparing against the unthresholded pair list
    would count j~0.01 accidental-shingle pairs as "missed", which is
    noise, not recall. One summary row: true pairs, LSH pairs, hits,
    recall (1.0 when no true pairs exist).

    Scale: both sides are the existing scale-shaped queries (capped
    shingles, band-bucket candidate joins); the comparison joins two
    already-small pair sets. The oracle nests BOTH component oracles
    verbatim, so the eval is cross-verified end-to-end."""
    true_pairs = (
        dedup_ngram_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    lsh_pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select(F.col("doc_a").alias("l_a"), F.col("doc_b").alias("l_b"))
    )
    joined = true_pairs.join(
        lsh_pairs,
        (F.col("doc_a") == F.col("l_a")) & (F.col("doc_b") == F.col("l_b")),
        "left_outer",
    )
    n_lsh = lsh_pairs.agg(F.count("*").alias("n_lsh_pairs"))
    hits = F.count_distinct(
        F.when(F.col("l_a").isNotNull(), F.struct("doc_a", "doc_b"))
    )
    n_true = F.count_distinct(F.struct("doc_a", "doc_b"))
    return (
        joined.agg(
            n_true.alias("n_true_pairs"),
            hits.alias("n_hits"),
        )
        .join(F.broadcast(n_lsh))
        .select(
            "n_true_pairs",
            "n_lsh_pairs",
            "n_hits",
            F.when(
                F.col("n_true_pairs") > 0,
                F.col("n_hits").cast("double") / F.col("n_true_pairs"),
            )
            .otherwise(F.lit(1.0))
            .alias("pair_recall"),
        )
    )


from bigdata_project_spark.registry import REGISTRY as _REG_DEDUP  # noqa: E402

_REG_DEDUP["dedup_lsh_pair_recall"].oracle = _REG_DEDUP["dedup_lsh_pair_recall"].oracle.format(
    TRUE=_REG_DEDUP["dedup_ngram_jaccard"].oracle,
    LSH=_REG_DEDUP["dedup_minhash_lsh"].oracle,
)
