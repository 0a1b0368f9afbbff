"""Corpus-quality scoring and dedup-evaluation operators, part 3.

The reference keeps every crawled record that parses
(CrawlData.py:10-146); a 100 TB training-data pipeline interposes
model-aware quality scoring and duplicate-audit passes between crawl
and training. This module adds four such passes on top of the
dedup/clustering substrate in `dedup.py` / `clustering.py`:

- **unigram LM surprisal** (`text_unigram_surprisal`): the CCNet-style
  "how surprising is this document under a corpus unigram model"
  signal, computed as the Shannon CODE LENGTH in whole bits —
  floor(log2(N / tf(token))) per token occurrence — so the score is
  exact integer arithmetic (length(bin(x)) - 1) instead of a float
  log-sum whose result depends on summation order. Complements
  `text_rarity_score` (distinct-token inverse-df): surprisal weights
  by occurrence and uses term frequency, so a doc that repeats one
  rare token scores differently in the two signals.
- **duplicate passage share** (`quality_duplicate_passage_share`): the
  RefinedWeb-style boilerplate metric — what fraction of a document's
  fixed-size token chunks also appear verbatim in OTHER documents.
  Near-dup scoring (Jaccard) asks "is this doc a copy"; this asks
  "how much of this doc is copied", catching template pages whose
  unique remainder keeps pairwise Jaccard below any dedup threshold.
- **MinHash estimator error** (`dedup_minhash_estimate_error`): for
  every candidate pair, the 8-hash MinHash Jaccard estimate
  (matching-component fraction) against the exact capped-shingle
  Jaccard, both in exact fixed-point micros — the in-engine
  measurement of how much the shipped signature width blurs the
  dedup threshold (complements `dedup_lsh_pair_recall`, which
  measures the BANDING's candidate recall, not the estimator).
- **keep-best canonicalization** (`corpus_keep_best_per_cluster`):
  within each near-dup cluster, keep the highest-quality copy
  (most tokens, doc_id tiebreak) rather than `corpus_clean_pipeline`'s
  min-id keeper — the selection policy real pipelines use, since
  mirrors often truncate and the longest copy is the canonical one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata_project_spark.operators.clustering import (
    SQL_EDGES,
    dedup_cluster_components,
    keep_best,
    near_dup_edges,
    sql_components,
)
from bigdata_project_spark.operators.dedup import (
    _SQL_SHINGLES,
    _SQL_SHINGLES_CAPPED,
    _SQL_SIGS,
    _minhash_aggs,
    shingle_df_capped,
    words_col,
)
from bigdata_project_spark.caching import tracked_persist
from bigdata_project_spark.operators.nearpairs import jaccard, overlap, sql_jaccard, sql_overlap
from bigdata_project_spark.registry import query
from bigdata_project_spark.tables import load, load_spread

# DuckDB CTE: (doc_id, token) with multiplicity — every whitespace
# token occurrence, lowercased (the unigram-LM event space).
_SQL_TOKS_MULTI = """
    toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS token
        FROM documents
    )
"""


@query(
    "text_unigram_surprisal",
    oracle=f"""
    WITH {_SQL_TOKS_MULTI},
    tf AS (SELECT token, COUNT(*) AS n_occ FROM toks GROUP BY token),
    tot AS (SELECT CAST(SUM(n_occ) AS BIGINT) AS n_total FROM tf)
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(length(bin(n_total // n_occ)) - 1) AS BIGINT) AS total_bits,
           CAST(SUM(length(bin(n_total // n_occ)) - 1) AS DOUBLE) / COUNT(*)
             AS bits_per_token
    FROM toks JOIN tf USING (token) CROSS JOIN tot
    GROUP BY doc_id
    """,
    tags=("llm", "quality", "text", "language-model"),
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model surprisal per document, in whole bits:
    the Shannon code length of the doc under the corpus's own unigram
    distribution, sum over token occurrences of
    floor(log2(N_total / tf(token))). High bits/token = rare
    vocabulary relative to the corpus (specialist content — or
    gibberish); low = stopword soup and boilerplate. This is the
    quality signal perplexity-filter pipelines threshold on, reduced
    to its determinism-safe integer core.

    Determinism: floor(log2(x)) is computed as length(bin(x)) - 1 —
    integer bit-length, bit-exact in both engines — and the per-doc
    sum is integer addition (order-free), unlike a float ln() sum
    whose last ulps depend on partitioning. The only division in the
    output is one exact int-to-double divide per doc.

    Scale: term frequencies aggregate with map-side combine (the
    token exchange carries (token, partial count), not occurrences);
    the occurrence->tf join shuffles on token — no broadcast
    assumption on the vocabulary, which at 100 TB does not fit an
    executor — and the per-doc rollup shuffles on doc_id. The 1-row
    corpus total rides a broadcast join (BNLJ whitelisted)."""
    # toks feeds BOTH the tf aggregate and the scoring join; the
    # double computation is DELIBERATE: the subtree is a map-side
    # scan + explode, and recomputing it measures ~0.3 s faster at
    # sf0.1 than persisting (persist materializes a corpus-sized
    # token stream to trade cheap parallel CPU for memory/disk churn
    # — the classic recompute-beats-cache case)
    toks = load_spread(spark, sf_dir, "documents").select(
        "doc_id", F.explode(words_col(F.col("text"))).alias("token")
    )
    tf = toks.groupBy("token").agg(F.count("*").alias("n_occ"))
    tot = tf.agg(F.sum("n_occ").alias("n_total"))
    code_bits = F.length(F.bin(F.expr("n_total div n_occ"))) - 1
    return (
        toks.join(tf, "token")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(code_bits).alias("total_bits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "total_bits",
            (F.col("total_bits").cast("double") / F.col("n_tokens")).alias("bits_per_token"),
        )
    )


_CHUNK_TOKENS = 10


@query(
    "quality_duplicate_passage_share",
    oracle=f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS words
        FROM documents
    ),
    idx AS (
        SELECT doc_id, words, unnest(range(len(words) // {_CHUNK_TOKENS})) AS i
        FROM w WHERE len(words) >= {_CHUNK_TOKENS}
    ),
    chunks AS (
        SELECT doc_id,
               md5(array_to_string(
                   words[i * {_CHUNK_TOKENS} + 1 : i * {_CHUNK_TOKENS} + {_CHUNK_TOKENS}], ' ')) AS chash
        FROM idx
    ),
    spread AS (SELECT chash, COUNT(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY chash)
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN s.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           CAST(SUM(CASE WHEN s.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS dup_share
    FROM chunks c JOIN spread s USING (chash)
    GROUP BY c.doc_id
    """,
    tags=("llm", "quality", "dedup", "passage"),
)
def quality_duplicate_passage_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-passage share: the fraction of a document's
    non-overlapping 10-token chunks that appear VERBATIM in at least
    one other document. Pairwise near-dup scores miss template pages —
    a doc that is 60% shared boilerplate plus 40% unique filler sits
    below every Jaccard threshold yet poisons training with massively
    repeated passages; this is the per-document metric that catches
    them (the passage-level analogue of RefinedWeb's line-dedup gate).

    Chunks are hashed (md5 over the space-joined slice) so the
    spread aggregate and the join back carry 32-hex-char keys, never
    passage text. A chunk repeated only WITHIN one doc is not
    "duplicated" here (COUNT(DISTINCT doc_id) >= 2) — intra-doc
    repetition is `quality_repetition_filter`'s signal.

    Scale: two shuffles — one on chash for the spread aggregate
    (uniform 128-bit keys; map-side combine first) and the join back,
    one on doc_id for the rollup. Chunking itself is map-side array
    algebra inside codegen; docs shorter than one chunk are excluded
    by construction (mirrored WHERE in both engines)."""
    docs = load_spread(spark, sf_dir, "documents")
    words = words_col(F.col("text"))
    chunk_hashes = F.transform(
        F.sequence(F.lit(0), F.floor(F.size(words) / F.lit(_CHUNK_TOKENS)).cast("int") - 1),
        lambda i: F.md5(F.concat_ws(" ", F.slice(words, i * _CHUNK_TOKENS + 1, _CHUNK_TOKENS))),
    )
    # chunks feeds BOTH the spread aggregate and the join-back probe;
    # recomputing the map-side scan + slice + md5 subtree measures
    # faster than persisting it at sf0.1 (persist would materialize a
    # corpus-sized hash stream) — deliberate recompute, same call as
    # text_unigram_surprisal's toks
    chunks = (
        docs.filter(F.size(words) >= _CHUNK_TOKENS)
        .select("doc_id", F.explode(chunk_hashes).alias("chash"))
    )
    spread = chunks.groupBy("chash").agg(F.count_distinct("doc_id").alias("n_docs"))
    return (
        chunks.join(spread, "chash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum((F.col("n_docs") >= 2).cast("long")).alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            (F.col("n_dup_chunks").cast("double") / F.col("n_chunks")).alias("dup_share"),
        )
    )


_EST_SCALE = 1_000_000  # fixed-point micros for both Jaccard forms
# the number of signature components two docs `sa`, `sb` agree on
_SQL_K_EQUAL = " + ".join(f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(8))


@query(
    "dedup_minhash_estimate_error",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    {_SQL_SHINGLES_CAPPED},
    sigs AS (SELECT doc_id, {_SQL_SIGS} FROM shc GROUP BY doc_id),
    {sql_overlap("shc")},
    {sql_jaccard("cap_counts")},
    est AS (
        SELECT p.doc_a, p.doc_b, p.n_common, p.n_union,
               CAST({_SQL_K_EQUAL} AS BIGINT) AS k_equal
        FROM pairs p
        JOIN sigs sa ON sa.doc_id = p.doc_a
        JOIN sigs sb ON sb.doc_id = p.doc_b
    )
    SELECT doc_a, doc_b, k_equal,
           k_equal * {_EST_SCALE} // 8 AS est_jaccard_micros,
           n_common * {_EST_SCALE} // n_union AS exact_jaccard_micros,
           abs(k_equal * {_EST_SCALE} // 8 - n_common * {_EST_SCALE} // n_union) AS abs_err_micros
    FROM est
    """,
    tags=("dedup", "llm", "evaluation", "minhash"),
)
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR accuracy, measured in-engine: for every
    candidate pair (docs sharing >= 1 df-capped shingle), the 8-hash
    MinHash Jaccard estimate — matching-signature-component fraction,
    E[k/8] = J — against the exact capped-shingle Jaccard, both as
    exact fixed-point micros, plus the absolute error. This is the
    measurement that justifies (or indicts) the shipped signature
    width: `dedup_lsh_pair_recall` scores the BANDING's candidate
    recall, this scores how much the estimator itself blurs a dedup
    threshold (with 8 hashes the estimate quantizes to 125,000-micro
    eighths, so per-pair errors of one quantization step are routine —
    measured max 125,000 / mean ~30,000 micros at sf0.01 — and
    widening to 64 hashes shrinks them ~sqrt(8x) at 8x signature
    cost).

    Determinism: both Jaccard forms are integer-division fixed-point
    (k * 1e6 div 8; inter * 1e6 div union) — no float comparison
    anywhere. Signatures and the exact Jaccard use the SAME capped
    shingle universe, so the estimator is evaluated against the
    quantity it actually sketches (self-consistent, E[est] = exact).

    Scale: one shingle aggregate produces signatures AND counts (the
    persisted pass is shared); candidates come from the standard
    bounded capped-shingle equi-join; the signature lookups are two
    doc_id equi-joins against the vocabulary-sized sigs table. No new
    shuffle shape beyond `dedup_ngram_jaccard` + two joins."""
    sh = tracked_persist(shingle_df_capped(spark, sf_dir))
    sigs = tracked_persist(
        sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"), *_minhash_aggs())
    )
    pairs = jaccard(overlap(sh), sigs.select("doc_id", "n_sh"))
    sa = sigs.select(F.col("doc_id").alias("doc_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(8)])
    sb = sigs.select(F.col("doc_id").alias("doc_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(8)])
    k_equal = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("long") for i in range(8)
    ).alias("k_equal")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("k_equal", k_equal)
        .select(
            "doc_a",
            "doc_b",
            "k_equal",
            F.expr(f"k_equal * {_EST_SCALE} div 8").alias("est_jaccard_micros"),
            F.expr(f"n_common * {_EST_SCALE} div n_union").alias("exact_jaccard_micros"),
            F.abs(
                F.expr(f"k_equal * {_EST_SCALE} div 8")
                - F.expr(f"n_common * {_EST_SCALE} div n_union")
            ).alias("abs_err_micros"),
        )
    )


@query(
    "corpus_keep_best_per_cluster",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    {_SQL_SHINGLES_CAPPED},
    {SQL_EDGES},
    {sql_components("documents", "doc_id")},
    quality AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))
                    AS BIGINT) AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT q.doc_id, c.component, q.n_tokens,
               FIRST_VALUE(q.doc_id)
                 OVER (PARTITION BY c.component ORDER BY q.n_tokens DESC, q.doc_id ASC)
                 AS keeper_doc_id
        FROM quality q JOIN comp c ON c.doc_id = q.doc_id
    )
    SELECT doc_id, component, n_tokens, keeper_doc_id,
           CAST(doc_id = keeper_doc_id AS INT) AS is_kept
    FROM ranked
    """,
    tags=("dedup", "llm", "pipeline", "canonicalization"),
)
def corpus_keep_best_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-max canonicalization: within each near-dup cluster,
    keep the copy with the MOST tokens (doc_id tiebreak) instead of
    `corpus_clean_pipeline`'s min-id keeper. The id-keeper policy is
    cheap but arbitrary — mirrors truncate, scrapes drop tails — so
    real pipelines canonicalize on quality: the longest copy of a
    near-dup cluster is the one that survives into training.

    Scale: reuses the label-propagation components (capped edges,
    lineage-truncated loop — see connected_components); the keeper
    election is one max(struct(n_tokens, -doc_id)) aggregate per
    component and a join back on component — both ride the SAME
    component exchange (groupBy key = join key, AQE reuses it). The
    struct-max avoids a window sort: per component only the 2-field
    running max is held, not the member list."""
    comp = dedup_cluster_components(spark, sf_dir).select("doc_id", "component")
    quality = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(words_col(F.col("text"))).cast("long").alias("n_tokens")
    )
    j = tracked_persist(comp.join(quality, "doc_id"))
    return (
        j.join(keep_best(j, "doc_id"), "component")
        .select(
            "doc_id",
            "component",
            "n_tokens",
            "keeper_doc_id",
            (F.col("doc_id") == F.col("keeper_doc_id")).cast("int").alias("is_kept"),
        )
    )


# ------------------------------------------------ composite quality gate


@query(
    "corpus_quality_gate",
    oracle=None,  # composed below from the component constants
    tags=("llm", "quality", "pipeline", "gate"),
)
def corpus_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE quality gate: one keep decision per document composed from
    the three discriminating signals a production corpus pipeline
    ANDs together before training — Gopher structural rules
    (`quality_gopher_rules`' composed bit), intra-doc repetition
    (`quality_repetition_filter`), and cross-doc boilerplate
    (`quality_duplicate_passage_share` at a 20% integer threshold:
    5 * n_dup_chunks <= n_chunks) — each re-emitted for ablation,
    plus the unigram surprisal (bits/token) as the observability
    column a pipeline owner thresholds per-corpus (this synthetic
    corpus is deliberately uniform at ~4 bits/token, so a band rule
    here would be either vacuous or overfitted — the VALUE is the
    product, the cut is the owner's knob). Dedup is deliberately NOT
    a gate input: keeper election is `corpus_clean_pipeline` /
    `corpus_keep_best_per_cluster`'s separate stage.

    EVERY document gets exactly one row — a gate that silently drops
    rows is not a gate. The members legitimately restrict their
    domains (Gopher needs >= 1 word, repetition >= 1 bigram, passage
    share >= 1 full chunk), so the gate LEFT-joins them onto the
    documents base with explicit vacuous defaults: a doc too short to
    have a bigram is not_repetitive (nothing to repeat), one too
    short for a chunk has dup_ok (no passages to duplicate), and a
    doc outside Gopher's domain (zero words) FAILS gopher_ok — the
    structural rules reject empty docs by definition.

    Scale: every input is doc_id-keyed, so the 4-way join aligns on
    ONE doc_id exchange shape; the component scans are the members'
    own (all map-side or token/chash-keyed as documented on each).
    Composing by calling the member builders keeps the gate
    definitionally in sync with the ablation queries — a threshold
    change in a member IS a gate change, never a silent divergence."""
    base = load(spark, sf_dir, "documents").select("doc_id")
    gopher = quality_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gopher_ok")
    )
    rep = quality_repetition_filter(spark, sf_dir).select(
        "doc_id", (1 - F.col("is_repetitive")).alias("not_repetitive")
    )
    dup = quality_duplicate_passage_share(spark, sf_dir).select(
        "doc_id",
        (F.col("n_dup_chunks") * 5 <= F.col("n_chunks")).cast("int").alias("dup_ok"),
    )
    surp = text_unigram_surprisal(spark, sf_dir).select("doc_id", "bits_per_token")
    return (
        base.join(gopher, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .join(dup, "doc_id", "left")
        .join(surp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("gopher_ok", F.lit(0)).alias("gopher_ok"),
            F.coalesce("not_repetitive", F.lit(1)).alias("not_repetitive"),
            F.coalesce("dup_ok", F.lit(1)).alias("dup_ok"),
            "bits_per_token",  # NULL for a zero-token doc — honest
        )
        .select(
            "doc_id",
            "gopher_ok",
            "not_repetitive",
            "dup_ok",
            "bits_per_token",
            (
                (F.col("gopher_ok") == 1)
                & (F.col("not_repetitive") == 1)
                & (F.col("dup_ok") == 1)
            ).cast("int").alias("keep"),
        )
    )


from bigdata_project_spark.operators.corpus import (  # noqa: E402
    _REP_THRESHOLD_SQL,
    _SQL_SPLIT_CTE_BODY,
    quality_repetition_filter,
)
from bigdata_project_spark.operators.corpus_ext import (  # noqa: E402
    _BULLET_RE,
    _SQL_NTOK,
    _STOPWORDS_RE,
    _SYMBOL_RE,
    quality_gopher_rules,
)
from bigdata_project_spark.registry import REGISTRY as _REG_QX  # noqa: E402

# Composite oracle: the members' own rule expressions over renamed
# CTEs (their published oracles reuse the CTE name `toks`, so the
# blocks are inlined here with distinct names — the THRESHOLD and
# REGEX constants are imported, keeping the logic single-sourced).
_REG_QX["corpus_quality_gate"].oracle = f"""
    WITH g AS (
        SELECT doc_id,
               CAST(({_SQL_NTOK} BETWEEN 3 AND 100000)
                AND (CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                       / {_SQL_NTOK} BETWEEN 2 AND 12)
                AND (CAST(len(regexp_extract_all(text, '{_SYMBOL_RE}')) AS DOUBLE)
                       / length(regexp_replace(text, '\\s+', '', 'g')) <= 0.1)
                AND (CAST(len(regexp_extract_all(text, '{_BULLET_RE}')) AS DOUBLE)
                       / (1 + len(regexp_extract_all(text, '\\n'))) <= 0.9)
                AND (len(regexp_extract_all(lower(text), '{_STOPWORDS_RE}')) >= 1)
                AS INT) AS gopher_ok
        FROM documents
        WHERE {_SQL_NTOK} > 0 AND length(regexp_replace(text, '\\s+', '', 'g')) > 0
    ),
    rw AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS words
        FROM documents
    ),
    rgrams AS (
        SELECT doc_id, array_to_string(words[r.r + 1 : r.r + 2], ' ') AS gram
        FROM rw, LATERAL (SELECT unnest(range(greatest(len(words) - 1, 0))) AS r) r
    ),
    rfreq AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM rgrams GROUP BY doc_id, gram),
    rep AS (
        SELECT doc_id,
               CAST(NOT (CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
                         > {_REP_THRESHOLD_SQL}) AS INT) AS not_repetitive
        FROM rfreq GROUP BY doc_id
    ),
    didx AS (
        SELECT doc_id, words, unnest(range(len(words) // 10)) AS i
        FROM rw WHERE len(words) >= 10
    ),
    dchunks AS (
        SELECT doc_id, md5(array_to_string(words[i * 10 + 1 : i * 10 + 10], ' ')) AS chash
        FROM didx
    ),
    dspread AS (SELECT chash, COUNT(DISTINCT doc_id) AS n_docs FROM dchunks GROUP BY chash),
    dup AS (
        SELECT c.doc_id,
               CAST(SUM(CASE WHEN s.n_docs >= 2 THEN 1 ELSE 0 END) * 5 <= COUNT(*) AS INT)
                 AS dup_ok
        FROM dchunks c JOIN dspread s USING (chash) GROUP BY c.doc_id
    ),
    stoks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS token
        FROM documents
    ),
    stf AS (SELECT token, COUNT(*) AS n_occ FROM stoks GROUP BY token),
    stot AS (SELECT CAST(SUM(n_occ) AS BIGINT) AS n_total FROM stf),
    surp AS (
        SELECT doc_id,
               CAST(SUM(length(bin(n_total // n_occ)) - 1) AS DOUBLE) / COUNT(*)
                 AS bits_per_token
        FROM stoks JOIN stf USING (token) CROSS JOIN stot
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(g.gopher_ok, 0) AS gopher_ok,
           COALESCE(rep.not_repetitive, 1) AS not_repetitive,
           COALESCE(dup.dup_ok, 1) AS dup_ok,
           surp.bits_per_token,
           CAST(COALESCE(g.gopher_ok, 0) = 1
                AND COALESCE(rep.not_repetitive, 1) = 1
                AND COALESCE(dup.dup_ok, 1) = 1 AS INT) AS keep
    FROM documents d
    LEFT JOIN g USING (doc_id)
    LEFT JOIN rep USING (doc_id)
    LEFT JOIN dup USING (doc_id)
    LEFT JOIN surp USING (doc_id)
"""


# ------------------------------------- split leakage + stratified gate


@query(
    "qa_split_leakage",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    {_SQL_SHINGLES_CAPPED},
    {SQL_EDGES},
    sp AS ({_SQL_SPLIT_CTE_BODY})
    SELECT e.doc_a, e.doc_b, sa.split AS split_a, sb.split AS split_b,
           CAST(sa.split <> sb.split AS INT) AS is_leak
    FROM edges e
    JOIN sp sa ON sa.doc_id = e.doc_a
    JOIN sp sb ON sb.doc_id = e.doc_b
    """,
    tags=("qa", "llm", "split", "dedup", "leakage"),
)
def qa_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval LEAKAGE audit: every near-duplicate pair (the same
    df-capped Jaccard >= 0.05 edge set the clustering family uses,
    `clustering.near_dup_edges`) tagged with both endpoints' hash-split
    assignment (`split_train_val_test`'s md5-bucket thresholds) and
    an is_leak bit for pairs that straddle splits. A near-dup of a
    training document sitting in val/test inflates eval scores — the
    leak a random split ALWAYS has at some rate on a deduplicated-
    but-not-cluster-aware corpus, and the reason production splits
    assign by cluster keeper, not by document. Emitting every edge
    (not just leaks) makes the audit non-vacuous on clean corpora
    and gives the leak RATE for free.

    Scale: the edge build is the shared near-dup substrate (bounded
    by the shingle df cap); the split tags are two doc_id-keyed
    equi-joins against a scan-side codegen expression — no new wide
    operator beyond the edge build itself."""
    from bigdata_project_spark.operators.corpus import _split_bucket, _TRAIN_LT, _VAL_LT

    edges = near_dup_edges(spark, sf_dir)
    bucket = F.expr(_split_bucket("STRING"))
    sp = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(bucket < _TRAIN_LT, "train")
        .when(bucket < _VAL_LT, "val")
        .otherwise("test")
        .alias("split"),
    )
    sa = sp.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("split", "split_a")
    sb = sp.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("split", "split_b")
    return (
        edges.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "split_a",
            "split_b",
            (F.col("split_a") != F.col("split_b")).cast("int").alias("is_leak"),
        )
    )


@query(
    "corpus_quality_stratified_gate",
    oracle="""
    WITH q AS (
        SELECT doc_id, lang,
               CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))
                    AS BIGINT) AS n_tokens
        FROM documents
    ),
    vc AS (SELECT lang, n_tokens, COUNT(*) AS c FROM q GROUP BY lang, n_tokens),
    cum AS (
        SELECT lang, n_tokens,
               SUM(c) OVER (PARTITION BY lang ORDER BY n_tokens DESC) AS ge_count,
               SUM(c) OVER (PARTITION BY lang) AS n_lang
        FROM vc
    )
    SELECT q.doc_id, q.lang, q.n_tokens,
           CAST(cum.ge_count AS BIGINT) AS ge_count,
           CAST(cum.n_lang AS BIGINT) AS n_lang,
           CAST(2 * cum.ge_count <= cum.n_lang AS INT) AS keep
    FROM q JOIN cum ON cum.lang = q.lang AND cum.n_tokens = q.n_tokens
    """,
    tags=("llm", "quality", "curation", "stratified"),
)
def corpus_quality_stratified_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality curation WITHOUT a per-document sort:
    keep the documents whose token count places them in their
    language's top half (ties at the boundary excluded by the
    threshold itself, so the kept share is <= 1/2 exactly). Per-
    language thresholds are the standard fix for global quality
    gates starving low-resource languages — a single corpus-wide
    cutoff keeps only the verbose languages.

    Scale shape (the point of this formulation): documents are never
    sorted. The distribution compresses to per-(lang, n_tokens)
    counts (map-side combinable), the descending cumulative count
    runs over that TINY aggregate (|langs| x |distinct lengths|
    rows), and each document joins back on (lang, n_tokens) — a
    broadcastable key table. A rank-window version would sort every
    document of the hottest language in one partition; this costs a
    grouped count instead."""
    docs = load(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        "lang",
        F.size(words_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    vc = q.groupBy("lang", "n_tokens").agg(F.count("*").alias("c"))
    w_desc = Window.partitionBy("lang").orderBy(F.desc("n_tokens"))
    w_all = Window.partitionBy("lang")
    cum = vc.select(
        "lang",
        "n_tokens",
        F.sum("c").over(w_desc).cast("long").alias("ge_count"),
        F.sum("c").over(w_all).cast("long").alias("n_lang"),
    )
    return q.join(F.broadcast(cum), ["lang", "n_tokens"]).select(
        "doc_id",
        "lang",
        "n_tokens",
        "ge_count",
        "n_lang",
        (2 * F.col("ge_count") <= F.col("n_lang")).cast("int").alias("keep"),
    )
