"""Corpus-preparation operators, part 2 (round 4): source mixing,
rule-based quality filtering, inverted-index build, and Z-order data
layout.

- mixture_source_weights: temperature-scaled sampling weights per
  source (alpha = 0.5, i.e. sqrt — IEEE sqrt is correctly rounded,
  so the weights are bit-identical cross-engine; fractional powers
  like 0.7 are NOT, which is why the canonical alpha here is 1/2);
- quality_gopher_rules: Gopher-style per-document heuristics (word
  count bounds, mean word length, symbol ratio, bullet-line ratio,
  stopword presence) composed into a keep bit — pure map, JVM
  regex/string built-ins only;
- index_inverted_postings: token -> document-frequency + sorted
  posting list for mid-frequency tokens — explode + one grouped
  shuffle; posting lists are arrays sorted ascending so the output
  is order-canonical;
- lake_zorder_key: Morton (Z-order) interleave of two clustering
  dimensions as a pure-arithmetic expression, summarized per Z
  bucket — the layout key a lakehouse writer would
  `sortWithinPartitions` by so range predicates on EITHER dimension
  prune file-level min/max zones.

All deterministic, all fully oracled; scale notes per docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.exact import dcast
from bigdata_project_spark.operators.dedup import words_col
from bigdata_project_spark.registry import query
from bigdata_project_spark.tables import load

# ------------------------------------------------------- source mixing

_SQL_NTOK = "len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))"


@query(
    "mixture_source_weights",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(CAST({_SQL_NTOK} AS DECIMAL(38,6))) AS DOUBLE) AS n_tokens,
               sqrt(COUNT(*)) AS scaled
        FROM documents
        GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(CAST(scaled AS DECIMAL(38,6))) AS DOUBLE) AS z,
               SUM(n_docs) AS total_docs
        FROM per_source
    )
    SELECT source, n_docs, n_tokens,
           scaled / z AS weight,
           (scaled / z) / (CAST(n_docs AS DOUBLE) / total_docs) AS oversample
    FROM per_source, tot
    """,
    tags=("llm", "mixture", "agg"),
)
def mixture_source_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing for a training run: each
    source's sampling weight is count^alpha / sum(count^alpha) with
    alpha = 1/2, the standard rebalancing that up-samples small
    (rare-language / rare-domain) sources without letting any one
    source dominate. `oversample` is the ratio against natural
    (proportional) sampling — the number a data loader multiplies
    each source's epoch count by.

    Scale: one partial-aggregated group-by on source (tens to
    thousands of groups at 100 TB) and a 1-row broadcast for the
    normalizer — the corpus text itself is never shuffled. sqrt is
    IEEE-correctly-rounded so the weights hash identically across
    engines; the decimal-summed scaled total keeps the normalizer
    order-free."""
    docs = load(spark, sf_dir, "documents")
    ntok = F.size(words_col(F.col("text")))
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(dcast(ntok)).cast("double").alias("n_tokens"),
        F.sqrt(F.count("*")).alias("scaled"),
    )
    tot = per_source.agg(
        F.sum(dcast("scaled")).cast("double").alias("z"),
        F.sum("n_docs").alias("total_docs"),
    )
    return (
        per_source.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (F.col("scaled") / F.col("z")).alias("weight"),
            (
                (F.col("scaled") / F.col("z"))
                / (F.col("n_docs").cast("double") / F.col("total_docs"))
            ).alias("oversample"),
        )
    )


# ------------------------------------------------- Gopher-style rules

_STOPWORDS_RE = r"\b(the|a|of|and|is)\b"
_SYMBOL_RE = r"[#@^~|<>{}\[\]\\]"
_BULLET_RE = r"\n[-*]"


@query(
    "quality_gopher_rules",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id,
               {_SQL_NTOK} AS n_words,
               length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace,
               len(regexp_extract_all(text, '{_SYMBOL_RE}')) AS n_symbols,
               len(regexp_extract_all(text, '{_BULLET_RE}')) AS n_bullet_lines,
               1 + len(regexp_extract_all(text, '\\n')) AS n_lines,
               len(regexp_extract_all(lower(text), '{_STOPWORDS_RE}')) AS n_stopwords
        FROM documents
    )
    SELECT doc_id, n_words,
           CAST(n_nonspace AS DOUBLE) / n_words AS mean_word_len,
           CAST(n_symbols AS DOUBLE) / n_nonspace AS symbol_ratio,
           CAST(n_bullet_lines AS DOUBLE) / n_lines AS bullet_ratio,
           CAST(n_words BETWEEN 3 AND 100000 AS INT) AS ok_word_count,
           CAST(CAST(n_nonspace AS DOUBLE) / n_words BETWEEN 2 AND 12 AS INT) AS ok_word_len,
           CAST(CAST(n_symbols AS DOUBLE) / n_nonspace <= 0.1 AS INT) AS ok_symbols,
           CAST(CAST(n_bullet_lines AS DOUBLE) / n_lines <= 0.9 AS INT) AS ok_bullets,
           CAST(n_stopwords >= 1 AS INT) AS ok_stopwords,
           CAST(n_words BETWEEN 3 AND 100000
                AND CAST(n_nonspace AS DOUBLE) / n_words BETWEEN 2 AND 12
                AND CAST(n_symbols AS DOUBLE) / n_nonspace <= 0.1
                AND CAST(n_bullet_lines AS DOUBLE) / n_lines <= 0.9
                AND n_stopwords >= 1 AS INT) AS keep
    FROM feats
    WHERE n_words > 0 AND n_nonspace > 0
    """,
    tags=("llm", "quality", "filter"),
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter: per-document word-count
    bounds, mean word length bounds, symbol ratio, bullet-line ratio,
    and stopword presence, each emitted as its own rule bit plus the
    composed keep bit — so a pipeline can ablate individual rules
    from the same scan.

    Scale: a pure map over the corpus (regexp_count / length / size —
    all JVM built-ins inside whole-stage codegen), no shuffle, no
    Python. The ratio cuts compare IEEE-identical doubles, and every
    count is integer, so the rule bits are cross-engine exact. Regexes
    stay in the Java/RE2-common subset (explicit classes, no
    lookaround)."""
    docs = load(spark, sf_dir, "documents")
    n_words = F.size(words_col(F.col("text")))
    n_nonspace = F.length(F.regexp_replace("text", r"\s+", ""))
    n_symbols = F.regexp_count("text", F.lit(_SYMBOL_RE))
    n_bullets = F.regexp_count("text", F.lit(_BULLET_RE))
    n_lines = F.lit(1) + F.regexp_count("text", F.lit(r"\n"))
    n_stop = F.regexp_count(F.lower("text"), F.lit(_STOPWORDS_RE))
    feats = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_nonspace.alias("n_nonspace"),
        n_symbols.alias("n_symbols"),
        n_bullets.alias("n_bullet_lines"),
        n_lines.alias("n_lines"),
        n_stop.alias("n_stopwords"),
    ).filter((F.col("n_words") > 0) & (F.col("n_nonspace") > 0))
    mean_word_len = F.col("n_nonspace").cast("double") / F.col("n_words")
    symbol_ratio = F.col("n_symbols").cast("double") / F.col("n_nonspace")
    bullet_ratio = F.col("n_bullet_lines").cast("double") / F.col("n_lines")
    ok_word_count = F.col("n_words").between(3, 100000)
    ok_word_len = (mean_word_len >= 2) & (mean_word_len <= 12)
    ok_symbols = symbol_ratio <= 0.1
    ok_bullets = bullet_ratio <= 0.9
    ok_stopwords = F.col("n_stopwords") >= 1
    keep = ok_word_count & ok_word_len & ok_symbols & ok_bullets & ok_stopwords
    return feats.select(
        "doc_id",
        "n_words",
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ok_word_count.cast("int").alias("ok_word_count"),
        ok_word_len.cast("int").alias("ok_word_len"),
        ok_symbols.cast("int").alias("ok_symbols"),
        ok_bullets.cast("int").alias("ok_bullets"),
        ok_stopwords.cast("int").alias("ok_stopwords"),
        keep.cast("int").alias("keep"),
    )


# ------------------------------------------- full Gopher rule set (r14)

# Gopher's "must contain >= 2 of these" stopword rule, counted as
# DISTINCT kinds over the word array (exact token membership — no
# regex word-boundary hazard). The canonical Rae et al. 2021 list
# (the/be/to/of/and/that/have/with) is vacuous on the testbed's
# 31-word synthetic vocabulary (only "the" occurs), so the rule runs
# over the module's own stopword class (_STOPWORDS_RE's set) — same
# semantics, non-degenerate distribution (0/1/2 kinds ~ 9%/27%/63%).
_GOPHER_STOPWORDS = ("the", "a", "of", "and", "is")

_SQL_STOP_KINDS = " + ".join(
    f"CAST(list_contains(ws, '{w}') AS INT)" for w in _GOPHER_STOPWORDS
)


@query(
    "quality_gopher_full_rules",
    oracle=f"""
    WITH fwords AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> '') AS ws
        FROM documents
    ),
    ffeats AS (
        SELECT doc_id,
               len(ws) AS n_words,
               len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words,
               len(regexp_extract_all(text, '#'))
                 + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_hash_ellipsis,
               len(list_filter(string_split(text, chr(10)), x -> x <> '')) AS n_lines_ne,
               len(list_filter(string_split(text, chr(10)),
                   x -> regexp_matches(x, '(\\.\\.\\.|…)$'))) AS n_ellipsis_lines,
               {_SQL_STOP_KINDS} AS n_stop_kinds
        FROM fwords
    )
    SELECT g.doc_id,
           CAST(f.n_alpha_words AS DOUBLE) / f.n_words AS alpha_word_fraction,
           CAST(f.n_hash_ellipsis AS DOUBLE) / f.n_words AS hash_ellipsis_per_word,
           CAST(f.n_ellipsis_lines AS DOUBLE) / f.n_lines_ne AS ellipsis_line_fraction,
           CAST(f.n_stop_kinds AS INT) AS n_stop_kinds,
           CAST(5 * f.n_alpha_words >= 4 * f.n_words AS INT) AS ok_alpha_words,
           CAST(10 * f.n_hash_ellipsis <= f.n_words AS INT) AS ok_symbol_word_ratio,
           CAST(10 * f.n_ellipsis_lines <= 3 * f.n_lines_ne AS INT) AS ok_ellipsis_lines,
           CAST(f.n_stop_kinds >= 2 AS INT) AS ok_stop_kinds,
           CAST(10 * d.n_dup_lines <= 3 * d.n_lines AS INT) AS ok_dup_lines,
           CAST(d.dup_char_fraction <= 0.2 AS INT) AS ok_dup_chars,
           CAST(g.keep AS INT) AS base_keep,
           CAST(g.keep = 1
                AND 5 * f.n_alpha_words >= 4 * f.n_words
                AND 10 * f.n_hash_ellipsis <= f.n_words
                AND 10 * f.n_ellipsis_lines <= 3 * f.n_lines_ne
                AND f.n_stop_kinds >= 2
                AND 10 * d.n_dup_lines <= 3 * d.n_lines
                AND d.dup_char_fraction <= 0.2 AS INT) AS full_keep
    FROM ({{G}}) g
    JOIN ffeats f ON f.doc_id = g.doc_id
    JOIN ({{DL}}) d ON d.doc_id = g.doc_id
    """,
    tags=("llm", "quality", "filter", "gopher"),
)
def quality_gopher_full_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE Gopher rule gate (Rae et al. 2021 Appendix A):
    the base five rules (`quality_gopher_rules`) plus the remaining
    published cuts — alpha-word fraction >= 0.8, hash/ellipsis
    symbol-to-word ratio <= 0.1, ellipsis-terminated line share
    <= 0.3, >= 2 DISTINCT stopword kinds (exact word-array
    membership over the module's stopword class — see
    _GOPHER_STOPWORDS for why not the paper's 8-word list on this
    testbed), and the duplicate-line
    thresholds (line count share <= 0.30, character mass <= 0.20)
    acting on `quality_dupline_signals`' measurements. Every new cut
    compares INTEGERS (5*a >= 4*n forms), so no FP threshold can
    diverge cross-engine; the two nested component oracles make the
    composed verdict value-verified end to end.

    The support is the base gate's (n_words > 0) intersected with the
    dupline relation (n_lines > 0) — inner joins, the ensemble-gate
    discipline: a doc the base gate cannot score has no full-rules
    verdict either.

    Scale: two doc_id equi-joins over corpus-keyed map outputs plus
    one fresh projection of the scan (regexp counts + array filters,
    all JVM codegen) — no new shuffle beyond the joins, and at 100 TB
    the three legs co-partition on doc_id so AQE plans them as one
    exchange reuse."""
    docs = load(spark, sf_dir, "documents")
    words = words_col(F.col("text"))
    lines = F.split(F.col("text"), r"\n")
    n_words = F.size(words)
    n_alpha = F.size(F.filter(words, lambda x: x.rlike("[a-z]")))
    n_hash_ell = F.regexp_count("text", F.lit("#")) + F.regexp_count(
        "text", F.lit(r"\.\.\.")
    )
    n_lines_ne = F.size(F.filter(lines, lambda x: x != ""))
    n_ell_lines = F.size(F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)$")))
    n_stop_kinds = None
    for w in _GOPHER_STOPWORDS:
        bit = F.array_contains(words, w).cast("int")
        n_stop_kinds = bit if n_stop_kinds is None else n_stop_kinds + bit
    feats = docs.select(
        F.col("doc_id").alias("f_did"),
        n_words.alias("n_words"),
        n_alpha.alias("n_alpha_words"),
        n_hash_ell.alias("n_hash_ellipsis"),
        n_lines_ne.alias("n_lines_ne"),
        n_ell_lines.alias("n_ellipsis_lines"),
        n_stop_kinds.alias("n_stop_kinds"),
    )
    g = quality_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("base_keep")
    )
    from bigdata_project_spark.operators.corpus import quality_dupline_signals

    dl = quality_dupline_signals(spark, sf_dir).select(
        F.col("doc_id").alias("d_did"),
        "n_lines",
        "n_dup_lines",
        "dup_char_fraction",
    )
    j = g.join(feats, F.col("doc_id") == F.col("f_did")).join(
        dl, F.col("doc_id") == F.col("d_did")
    )
    ok_alpha = 5 * F.col("n_alpha_words") >= 4 * F.col("n_words")
    ok_sym = 10 * F.col("n_hash_ellipsis") <= F.col("n_words")
    ok_ell = 10 * F.col("n_ellipsis_lines") <= 3 * F.col("n_lines_ne")
    ok_stop = F.col("n_stop_kinds") >= 2
    ok_dupl = 10 * F.col("n_dup_lines") <= 3 * F.col("n_lines")
    ok_dupc = F.col("dup_char_fraction") <= 0.2
    full = (
        (F.col("base_keep") == 1)
        & ok_alpha & ok_sym & ok_ell & ok_stop & ok_dupl & ok_dupc
    )
    return j.select(
        "doc_id",
        (F.col("n_alpha_words").cast("double") / F.col("n_words")).alias(
            "alpha_word_fraction"
        ),
        (F.col("n_hash_ellipsis").cast("double") / F.col("n_words")).alias(
            "hash_ellipsis_per_word"
        ),
        (F.col("n_ellipsis_lines").cast("double") / F.col("n_lines_ne")).alias(
            "ellipsis_line_fraction"
        ),
        F.col("n_stop_kinds").cast("int").alias("n_stop_kinds"),
        ok_alpha.cast("int").alias("ok_alpha_words"),
        ok_sym.cast("int").alias("ok_symbol_word_ratio"),
        ok_ell.cast("int").alias("ok_ellipsis_lines"),
        ok_stop.cast("int").alias("ok_stop_kinds"),
        ok_dupl.cast("int").alias("ok_dup_lines"),
        ok_dupc.cast("int").alias("ok_dup_chars"),
        F.col("base_keep").cast("int").alias("base_keep"),
        full.cast("int").alias("full_keep"),
    )


def _splice_full_rules() -> None:
    # direct-import safety: registering the dupline component is a
    # corpus.py side effect; operators/__init__ orders it first, but
    # a bare `import corpus_ext` must not depend on that
    from bigdata_project_spark.operators import corpus as _corpus  # noqa: F401
    from bigdata_project_spark.registry import REGISTRY as _reg

    _reg["quality_gopher_full_rules"].oracle = _reg[
        "quality_gopher_full_rules"
    ].oracle.format(
        G=_reg["quality_gopher_rules"].oracle,
        DL=_reg["quality_dupline_signals"].oracle,
    )


_splice_full_rules()


# --------------------------------------------------- inverted index

_HEAD_FRAC = 0.8  # tokens in more than this fraction of docs are stop-tokens
_POSTING_CAP = 100  # first block of each posting list


@query(
    "index_inverted_postings",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT doc_id, unnest(
            list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')
        ) AS token
        FROM documents
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    df AS (
        SELECT token, COUNT(*) AS df FROM pairs GROUP BY token
    ),
    kept AS (
        SELECT token, df FROM df, n WHERE df < {_HEAD_FRAC} * n_docs
    )
    SELECT p.token, k.df,
           array_to_string((list(p.doc_id ORDER BY p.doc_id))[1:{_POSTING_CAP}], ',') AS postings
    FROM pairs p JOIN kept k ON p.token = k.token
    GROUP BY p.token, k.df
    """,
    tags=("llm", "index", "agg"),
)
def index_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token -> document frequency + the first
    block (ascending, capped) of its posting list. Head tokens —
    those in more than 80% of documents — are dropped as stop-tokens
    BEFORE any posting list is collected: a cheap df-only aggregate
    runs first, the surviving token set broadcasts, and only then are
    postings gathered and capped. That ordering is the point at
    scale: collecting an uncapped posting list for a head token is a
    single-key OOM, so the memory-heavy aggregate must only ever see
    pre-bounded groups (same df-cap discipline as the shingle cap in
    operators/dedup.py).

    The fractional head threshold (vs an absolute df band) keeps the
    operator meaningful at every corpus size. Posting lists are
    slice(sort_array(collect_set(...))) — canonical ascending order,
    cross-engine identical."""
    docs = load(spark, sf_dir, "documents")
    tokens = F.array_distinct(
        F.array_remove(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), "")
    )
    pairs = docs.select("doc_id", F.explode(tokens).alias("token"))
    n = docs.agg(F.count("*").alias("n_docs"))
    df = pairs.groupBy("token").agg(F.count("*").alias("df"))
    kept = (
        df.join(F.broadcast(n))
        .filter(F.col("df") < F.lit(_HEAD_FRAC) * F.col("n_docs"))
        .select("token", "df")
    )
    return (
        pairs.join(F.broadcast(kept), "token")
        .groupBy("token", "df")
        .agg(
            # CSV-string posting block, not array<bigint>: the external
            # harness canonicalizes cells via pandas sort/hash, which
            # cannot hash list cells — the join on the stringified form
            # is still exact (ascending, capped before the join).
            F.array_join(
                F.slice(F.sort_array(F.collect_set("doc_id")), 1, _POSTING_CAP), ","
            ).alias("postings")
        )
    )


# ----------------------------------------------------- Z-order layout

_ZBITS = 16


def _morton_sql(x: str, y: str, bits: int = _ZBITS) -> str:
    """Morton interleave as a single arithmetic expression valid in
    BOTH Spark SQL and DuckDB (shifts, masks, and ORs only): bit i of
    x lands at position 2i, bit i of y at 2i+1."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


@query(
    "lake_zorder_key",
    oracle=f"""
    WITH keyed AS (
        SELECT user_id,
               CAST(date_diff('day', TIMESTAMP '1995-01-01', ts) AS BIGINT) AS day_no,
               ({_morton_sql("user_id", "CAST(date_diff('day', TIMESTAMP '1995-01-01', ts) AS BIGINT)")}) AS z_key
        FROM events
    )
    SELECT z_key >> 8 AS z_bucket,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           MAX(day_no) - MIN(day_no) AS day_span,
           MIN(z_key) AS z_min,
           MAX(z_key) AS z_max
    FROM keyed
    GROUP BY z_key >> 8
    """,
    tags=("lake", "layout", "agg"),
)
def lake_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, event day):
    interleaving the bits of both dimensions gives a single sort key
    under which points close in EITHER dimension land in the same file
    zone — so a lakehouse writer that `sortWithinPartitions(z_key)`
    before writing gets parquet min/max zone pruning for user-range
    AND time-range predicates from one layout. The query summarizes
    each Z bucket (key >> 8): event count, user spread, and day span
    — the locality evidence.

    Scale: the key is 64 shift-mask-or terms — pure integer
    arithmetic, whole-stage codegen'd, zero Python, zero shuffle
    until the (small) per-bucket rollup. The identical expression
    text runs on both engines, so the keys are trivially
    cross-engine exact."""
    ev = load(spark, sf_dir, "events")
    day_no = "CAST(datediff(ts, TIMESTAMP '1995-01-01') AS BIGINT)"
    keyed = ev.selectExpr(
        "user_id",
        f"{day_no} AS day_no",
        f"({_morton_sql('user_id', day_no)}) AS z_key",
    )
    return (
        keyed.groupBy(F.shiftright("z_key", 8).alias("z_bucket"))
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            (F.max("day_no") - F.min("day_no")).alias("day_span"),
            F.min("z_key").alias("z_min"),
            F.max("z_key").alias("z_max"),
        )
    )


# --------------------------------------------- token-budget allocation

_BUDGET_TOKENS = 1000


@query(
    "corpus_token_budget_fill",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source, n_chars,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source
                                        ORDER BY n_chars DESC, doc_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM d
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= {_BUDGET_TOKENS}
    """,
    tags=("llm", "corpus", "budget", "window"),
)
def corpus_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget allocation: fill each source's quota
    ({_BUDGET_TOKENS} tokens) greedily in quality order (longest docs
    first, doc_id tiebreak) — the step that turns mixture weights
    (mixture_source_weights) into an actual document selection when
    assembling a training corpus with a fixed token budget per
    source. A doc is kept iff the running total INCLUDING it still
    fits; the first overflowing doc and everything after it are cut.

    All integer arithmetic (token counts, running sums) — exact and
    order-free given the total order (n_chars DESC, doc_id).

    Scale: one window per source partition — the pack_sequences_by_
    source shape; sources are the partition key, so the sort is
    bounded per source and parallel across sources. A source too big
    to sort in one partition slices by a quality-band prefix exactly
    like pack_sequences_global's two-stage cumsum (the cut point is
    in the band where the running total crosses the budget; earlier
    bands are all-in, later bands all-out)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_chars"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= _BUDGET_TOKENS)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("source", "cum_tokens")
    )


# ------------------------------------------ data-skipping effectiveness

# The probe predicate whose zone-pruning power the audit measures —
# a narrow user slice, mirrored verbatim in the oracle.
_SKIP_USER_LO, _SKIP_USER_HI = 0, 7


def _skipping_sql(layout: str, zone_expr: str) -> str:
    return f"""
        SELECT '{layout}' AS layout,
               COUNT(*) AS n_zones,
               CAST(SUM(CASE WHEN u_max < {_SKIP_USER_LO} OR u_min > {_SKIP_USER_HI}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_zones_skipped,
               CAST(SUM(CASE WHEN u_max < {_SKIP_USER_LO} OR u_min > {_SKIP_USER_HI}
                        THEN n_rows ELSE 0 END) AS BIGINT) AS rows_skipped,
               CAST(SUM(n_rows) AS BIGINT) AS total_rows,
               CAST(SUM(CASE WHEN u_max < {_SKIP_USER_LO} OR u_min > {_SKIP_USER_HI}
                             THEN n_rows ELSE 0 END) AS DOUBLE) / SUM(n_rows)
                   AS skip_ratio
        FROM (
            SELECT {zone_expr} AS zone,
                   MIN(user_id) AS u_min, MAX(user_id) AS u_max,
                   COUNT(*) AS n_rows
            FROM keyed GROUP BY 1
        )
    """


@query(
    "lake_skipping_effectiveness",
    oracle=f"""
    WITH keyed AS (
        SELECT user_id,
               CAST(date_diff('day', TIMESTAMP '1995-01-01', ts) AS BIGINT) AS day_no,
               ({_morton_sql("user_id", "CAST(date_diff('day', TIMESTAMP '1995-01-01', ts) AS BIGINT)")}) AS z_key
        FROM events
    )
    {_skipping_sql("zorder", "z_key >> 8")}
    UNION ALL
    {_skipping_sql("time_sorted", "day_no // 7")}
    """,
    tags=("lake", "layout", "qa", "audit"),
)
def lake_skipping_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping effectiveness audit: for two physical layouts —
    Z-order zones (z_key >> 8, the lake_zorder_key clustering) vs
    plain time-sorted weekly zones — compute each zone's user_id
    min/max (exactly the parquet footer stats a writer would emit)
    and report how many zones, and how many rows, a narrow user-slice
    predicate could skip via min/max pruning. The punchline at 100 TB:
    under the time-sorted layout every zone contains every user
    (skip_ratio 0), while Z-order zones separate user ranges, so the
    same predicate prunes most of the data — measured, not asserted.

    Determinism: zone stats, skip flags, and row counts are pure
    integers; skip_ratio is one double division per layout row.

    Scale: both layout passes are map-side combined aggregates to the
    (small) zone-stats table; no shuffle touches raw events beyond
    the two per-zone rollups, and the final report is 2 rows. This is
    the evaluation loop for layout decisions: run it on a sample,
    pick the layout, THEN pay for the rewrite."""
    ev = load(spark, sf_dir, "events")
    day_no = "CAST(datediff(ts, TIMESTAMP '1995-01-01') AS BIGINT)"
    keyed = ev.selectExpr(
        "user_id",
        f"{day_no} AS day_no",
        f"({_morton_sql('user_id', day_no)}) AS z_key",
    )

    def audit(layout: str, zone: F.Column) -> DataFrame:
        zones = keyed.groupBy(zone.alias("zone")).agg(
            F.min("user_id").alias("u_min"),
            F.max("user_id").alias("u_max"),
            F.count("*").alias("n_rows"),
        )
        skippable = (F.col("u_max") < _SKIP_USER_LO) | (F.col("u_min") > _SKIP_USER_HI)
        return zones.agg(
            F.lit(layout).alias("layout"),
            F.count("*").alias("n_zones"),
            F.sum(skippable.cast("long")).alias("n_zones_skipped"),
            F.sum(F.when(skippable, F.col("n_rows")).otherwise(0)).alias("rows_skipped"),
            F.sum("n_rows").alias("total_rows"),
            (
                F.sum(F.when(skippable, F.col("n_rows")).otherwise(0)).cast("double")
                / F.sum("n_rows")
            ).alias("skip_ratio"),
        )

    return audit("zorder", F.shiftright("z_key", 8)).unionAll(
        audit("time_sorted", F.expr("day_no div 7"))
    )
