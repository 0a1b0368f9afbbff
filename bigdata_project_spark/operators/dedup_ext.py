"""Set-similarity dedup, part 2: prefix-filtering similarity join and
asymmetric containment detection (SURVEY.md §2.10 north-star family).

The reference deduplicates by exact id membership only
(CrawlData.py:12,34); this module adds the two classic *exact*
set-similarity shapes a 100 TB corpus pipeline runs alongside the
approximate MinHash-LSH path in `dedup.py`:

- **prefix-filtering similarity join** (AllPairs / PPJoin family,
  Bayardo et al. WWW'07, Xiao et al. WWW'08): for a Jaccard threshold
  t, two sets can only reach t if their *rarest-token prefixes*
  intersect — so candidates come from an equi-join over a small
  per-document prefix instead of every shingle. Unlike LSH banding it
  is EXACT: the verified output is precisely every pair with
  J >= t, no recall loss to tune.
- **containment pairs** (asymmetric Jaccard |A∩B| / |A|): finds
  documents mostly *embedded in* a larger one (quote farms, wrapper
  pages, partial mirrors) that symmetric Jaccard misses because the
  union in its denominator is dominated by the larger doc.

Both stay integer-exact until one final double division, so each has
a full DuckDB oracle over the same df-capped shingle set as
`dedup_ngram_jaccard` — the brute-force oracle doubles as a
losslessness proof for the prefix filter.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata_project_spark.caching import tracked_persist
from bigdata_project_spark.operators.dedup import (
    _SQL_SHINGLES,
    _SQL_SHINGLES_CAPPED,
    shingle_df_capped,
)
from bigdata_project_spark.operators import spans
from bigdata_project_spark.registry import query

# Jaccard threshold for the prefix-filter join, kept RATIONAL (1/2) so
# every filter stays in integer arithmetic: prefix length and the
# J >= 1/2 acceptance test are exact in both engines by construction.
_PF_NUM, _PF_DEN = 1, 2

# Containment threshold 4/5 — same rational-arithmetic discipline.
_CT_NUM, _CT_DEN = 4, 5


@query(
    "dedup_prefix_filter_jaccard",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    {_SQL_SHINGLES_CAPPED},
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common) AS jaccard
    FROM inter
    JOIN cap_counts ca ON ca.doc_id = doc_a
    JOIN cap_counts cb ON cb.doc_id = doc_b
    WHERE ({_PF_DEN} + {_PF_NUM}) * n_common >= {_PF_NUM} * (ca.n_sh + cb.n_sh)
    """,
    tags=("dedup", "llm", "similarity-join", "prefix-filter"),
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join at Jaccard >= 1/2 via prefix
    filtering (AllPairs/PPJoin): order each document's df-capped
    shingles by global rarity (document frequency asc, shingle asc —
    a strict total order), keep only the first
    ``n_sh - ceil(t * n_sh) + 1`` of them, and equi-join *prefixes*
    instead of full shingle sets. Two sets with J >= t must overlap
    by >= ceil(t*|x|) tokens on each side, so if their rarest-token
    prefixes were disjoint the shared tokens would all sit in a
    suffix too short to hold them — prefix disjointness proves
    J < t, and the join loses nothing (the brute-force DuckDB oracle
    is the standing losslessness proof at every scale factor).
    Candidates then pass the integer size filter (t*|A| <= |B| and
    t*|B| <= |A|) and are verified by exact intersection over the
    per-doc sorted shingle arrays; a pair survives iff
    3*n_common >= n_a + n_b (J >= 1/2 cleared of division).

    Scale: the df-cap already bounds any single shingle's bucket at
    MAX_SHINGLE_DF²; prefix filtering multiplies that by cutting
    candidate generation to the ~half of each set that is globally
    rarest — and rare tokens are exactly the ones with small buckets,
    so the candidate volume drops superlinearly (measured ~4x fewer
    candidate pairs than the share-a-shingle join at sf0.01). The
    verify stage joins the SMALL candidate list back to per-doc
    shingle arrays on doc_id (two hash joins), never re-joining the
    exploded shingle table. All ranking rides ONE (doc_id) exchange
    (row_number and the per-doc count share the window); the df table
    reuses the shingle aggregate. Everything is integer arithmetic
    until the final jaccard division.
    """
    sh = tracked_persist(shingle_df_capped(spark, sf_dir))

    # global rarity: document frequency per shingle (map-side combined)
    df_tbl = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = sh.join(df_tbl, "shingle")
    w_rank = Window.partitionBy("doc_id").orderBy("df", "shingle")
    w_all = Window.partitionBy("doc_id")
    ranked = ranked.select(
        "doc_id",
        "shingle",
        F.row_number().over(w_rank).alias("r"),
        F.count("*").over(w_all).alias("n_sh"),
    )
    # prefix length n - ceil(t*n) + 1, t = 1/2, all-integer:
    # ceil(n/2) = (n+1) div 2
    prefix = ranked.filter(
        F.col("r")
        <= F.col("n_sh") - F.expr(f"(n_sh * {_PF_NUM} + {_PF_DEN} - 1) div {_PF_DEN}") + 1
    )

    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size filter: t*|A| <= |B| and t*|B| <= |A| (integer form)
            & (F.col("b.n_sh") * _PF_DEN >= F.col("a.n_sh") * _PF_NUM)
            & (F.col("a.n_sh") * _PF_DEN >= F.col("b.n_sh") * _PF_NUM),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    # verify candidates against full sorted shingle arrays (bounded by
    # per-doc size; the candidate list is the small side of both joins)
    arrs = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("shingle")).alias("sh_set"),
        F.count("*").alias("n_sh"),
    )
    pa, pb = arrs.alias("pa"), arrs.alias("pb")
    verified = (
        cand.join(pa, F.col("pa.doc_id") == F.col("doc_a"))
        .join(pb, F.col("pb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("pa.sh_set", "pb.sh_set")).alias("n_common"),
            F.col("pa.n_sh").alias("na"),
            F.col("pb.n_sh").alias("nb"),
        )
        # J >= t cleared of division: (den+num)*i >= num*(a+b)
        .filter((_PF_DEN + _PF_NUM) * F.col("n_common") >= _PF_NUM * (F.col("na") + F.col("nb")))
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "n_common",
        (F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))).alias(
            "jaccard"
        ),
    )


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    {_SQL_SHINGLES_CAPPED},
    inter AS (
        SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc,
               COUNT(*) AS n_common
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT contained_doc, container_doc, n_common,
           ca.n_sh AS n_sh_contained,
           CAST(n_common AS DOUBLE) / ca.n_sh AS containment
    FROM inter
    JOIN cap_counts ca ON ca.doc_id = contained_doc
    WHERE {_CT_DEN} * n_common >= {_CT_NUM} * ca.n_sh
    """,
    tags=("dedup", "llm", "containment"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection: ordered pairs where >= 80% of
    the *contained* document's df-capped shingles also appear in the
    container — the containment score C(A,B) = |A∩B| / |A| of the
    partial-duplicate literature. Symmetric Jaccard misses a short
    doc quoted inside a long one (the union denominator swamps the
    overlap); containment is the signal that catches wrapper pages,
    quote farms, and partial mirrors, and its keep-decision
    (drop the contained copy, keep the container) is directional —
    hence ordered pairs, both directions scored independently.

    Scale: candidates come from the SAME df-capped shingle equi-join
    as `dedup_ngram_jaccard` (each shingle's bucket bounded by
    MAX_SHINGLE_DF, so the ordered-pair fan-out is at most 2x the
    unordered one); the acceptance test 5*n_common >= 4*n_sh is pure
    integer arithmetic, and the single double division happens once
    per emitted row. One shingle shuffle + one doc_id-keyed count
    join — no new shuffle shapes beyond the Jaccard query."""
    sh = shingle_df_capped(spark, sf_dir)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("contained_doc"), F.col("b.doc_id").alias("container_doc"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(counts.withColumnRenamed("doc_id", "contained_doc"), "contained_doc")
        .filter(_CT_DEN * F.col("n_common") >= _CT_NUM * F.col("n_sh"))
        .select(
            "contained_doc",
            "container_doc",
            "n_common",
            F.col("n_sh").alias("n_sh_contained"),
            (F.col("n_common").cast("double") / F.col("n_sh")).alias("containment"),
        )
    )


@query(
    "dedup_normalized_exact",
    oracle="""
    WITH normed AS (
        SELECT doc_id,
               md5(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g'))) AS norm_hash
        FROM documents
    )
    SELECT norm_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM normed
    GROUP BY norm_hash
    """,
    tags=("dedup", "llm", "normalization"),
)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-then-hash dedup — the "fuzzy exact" pass every
    corpus pipeline runs BEFORE shingling: lowercase, strip
    non-alphanumerics, collapse whitespace, then group by the md5 of
    the canonical form. Catches the trivially-reformatted duplicates
    (case, punctuation, spacing, trailing newline churn) that raw
    dedup_exact_hash misses and that would otherwise waste MinHash
    work downstream. Keeper = min doc_id, as in the exact pass.

    Determinism: the normalization is the identical regex chain in
    both engines (Spark regexp_replace is global by default; the
    oracle passes the 'g' flag), md5 of identical bytes matches by
    construction.

    Scale: one md5 shuffle of 128-bit uniform keys — the document
    text itself is never shuffled, exactly like dedup_exact_hash."""
    from bigdata_project_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    norm = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), r"[^a-z0-9 ]", ""), " +", " "
            )
        )
    )
    return (
        docs.select(norm.alias("norm_hash"), "doc_id")
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


@query(
    "dedup_lsh_band_tuning",
    oracle="""
    WITH cand AS (
        SELECT DISTINCT a.config AS config, a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ({BANDS}) a JOIN ({BANDS}) b
          ON a.config = b.config AND a.band = b.band
         AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    truth AS (SELECT doc_a, doc_b FROM ({TRUE}) WHERE jaccard >= 0.5),
    tt AS (SELECT COUNT(*) AS n_true_pairs FROM truth)
    SELECT c.config,
           COUNT(*) AS n_candidates,
           tt.n_true_pairs,
           CAST(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CASE WHEN tt.n_true_pairs > 0
                THEN CAST(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                     / tt.n_true_pairs ELSE 1.0 END AS recall,
           CAST(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS precision
    FROM cand c
    LEFT JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    CROSS JOIN tt
    GROUP BY c.config, tt.n_true_pairs
    """,
    tags=("dedup", "llm", "eval", "lsh", "tuning"),
)
def dedup_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH operating-curve measurement: candidate volume, recall, and
    precision of THREE band/row configurations of the same 8-hash
    MinHash signature — 8 bands x 1 row (S-curve midpoint j=0.125,
    catch-everything), 4 x 2 (j=0.5, the shipped config), and
    2 x 4 (j=0.84, high-precision) — all evaluated against one exact
    ground truth (capped-Jaccard pairs at j >= 0.5). This is the
    tuning sweep an index owner runs on a corpus sample BEFORE
    committing a 100 TB dedup pass: wider bands buy recall with a
    candidate-volume (compute) bill, and the measured 3-row curve —
    not the theoretical S-curve — is the basis for the choice. (On
    this testbed the duplicates are near-exact, so all three configs
    saturate at recall = precision = 1.0 — a flat curve IS a
    measurement: it says even 2x4 suffices for this corpus; a fuzzier
    corpus separates the rows.)

    Determinism: band keys are md5-derived hex strings, candidate
    sets are exact; recall/precision are one double division each
    over exact integer counts (empty-set guards mirror both engines).

    Scale: signatures are one shingle aggregate (shared across all
    configs); each config's candidate join is the standard banded
    equi-join — the whole sweep costs ~3 LSH candidate passes over
    signature rows, never touching document text."""
    from bigdata_project_spark.operators.dedup import _minhash_aggs, shingle_df

    sigs = tracked_persist(
        shingle_df(spark, sf_dir).groupBy("doc_id").agg(*_minhash_aggs())
    )

    def bands_for(config: str, groups: list[list[int]]) -> DataFrame:
        entries = [
            F.struct(
                F.lit(k).alias("band"),
                F.concat(*[F.col(f"h{i}") for i in g]).alias("band_key"),
            )
            for k, g in enumerate(groups)
        ]
        return sigs.select(
            F.lit(config).alias("config"),
            "doc_id",
            F.explode(F.array(*entries)).alias("bk"),
        ).select("config", "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))

    bands = (
        bands_for("8x1", [[i] for i in range(8)])
        .unionAll(bands_for("4x2", [[0, 1], [2, 3], [4, 5], [6, 7]]))
        .unionAll(bands_for("2x4", [[0, 1, 2, 3], [4, 5, 6, 7]]))
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.config") == F.col("b.config"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.config", F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    from bigdata_project_spark.operators.dedup import dedup_ngram_jaccard

    truth = (
        dedup_ngram_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select(F.col("doc_a").alias("t_a"), F.col("doc_b").alias("t_b"))
    )
    tt = truth.agg(F.count("*").alias("n_true_pairs"))
    joined = cand.join(
        truth, (F.col("doc_a") == F.col("t_a")) & (F.col("doc_b") == F.col("t_b")), "left_outer"
    )
    per_cfg = joined.groupBy("config").agg(
        F.count("*").alias("n_candidates"),
        F.sum(F.col("t_a").isNotNull().cast("long")).alias("n_hits"),
    )
    return per_cfg.join(F.broadcast(tt)).select(
        "config",
        "n_candidates",
        "n_true_pairs",
        "n_hits",
        F.when(
            F.col("n_true_pairs") > 0,
            F.col("n_hits").cast("double") / F.col("n_true_pairs"),
        )
        .otherwise(F.lit(1.0))
        .alias("recall"),
        (F.col("n_hits").cast("double") / F.col("n_candidates")).alias("precision"),
    )


from bigdata_project_spark.registry import REGISTRY as _REG_DX  # noqa: E402
from bigdata_project_spark.operators.dedup import _SQL_SHINGLES as _SH  # noqa: E402
from bigdata_project_spark.operators.dedup import _SQL_SIGS as _SIGS  # noqa: E402

_BANDS_SQL = f"""
    WITH {_SH},
    sigs AS (SELECT doc_id, {_SIGS} FROM sh GROUP BY doc_id)
    SELECT '8x1' AS config, doc_id, b.k AS band,
           CASE b.k WHEN 0 THEN h0 WHEN 1 THEN h1 WHEN 2 THEN h2 WHEN 3 THEN h3
                    WHEN 4 THEN h4 WHEN 5 THEN h5 WHEN 6 THEN h6 ELSE h7 END AS band_key
    FROM sigs, (SELECT unnest(range(8)) AS k) b
    UNION ALL
    SELECT '4x2', doc_id, b.k,
           CASE b.k WHEN 0 THEN h0 || h1 WHEN 1 THEN h2 || h3
                    WHEN 2 THEN h4 || h5 ELSE h6 || h7 END
    FROM sigs, (SELECT unnest(range(4)) AS k) b
    UNION ALL
    SELECT '2x4', doc_id, b.k,
           CASE b.k WHEN 0 THEN h0 || h1 || h2 || h3 ELSE h4 || h5 || h6 || h7 END
    FROM sigs, (SELECT unnest(range(2)) AS k) b
"""

_REG_DX["dedup_lsh_band_tuning"].oracle = _REG_DX["dedup_lsh_band_tuning"].oracle.format(
    BANDS=_BANDS_SQL, TRUE=_REG_DX["dedup_ngram_jaccard"].oracle
)


# --------------------------- exact substring spans (Lee et al. 2022)

_SUB_K = 20  # minimum repeated run length, in tokens


def _sql_spans(output: str, within_doc: bool) -> str:
    """The oracle of a substring-span query: the `spans` twins over
    every document, ending in `output` (SQL_COVERAGE or SQL_EXCISE)."""
    return f"""
    WITH wo AS (SELECT doc_id, {spans.SQL_WORDS} AS words FROM documents),
    {spans.sql_windows(_SUB_K)},
    {spans.sql_repeated(_SUB_K, within_doc)},
    {spans.sql_intervals(_SUB_K)},
    {output}
    """


def _spans(
    spark: SparkSession,
    sf_dir: str,
    output: Callable[[DataFrame, DataFrame], DataFrame],
    within_doc: bool,
) -> DataFrame:
    """`output` (spans.coverage or spans.excise) of every document over
    the merged spans of its repeated >= K-token runs."""
    from bigdata_project_spark.tables import load_spread

    docs = load_spread(spark, sf_dir, "documents")
    base = docs.select("doc_id", spans.words(F.col("text")).alias("words"))
    return output(base, spans.intervals(spans.repeated(base, _SUB_K, within_doc), _SUB_K))


@query(
    "dedup_exact_substring_spans",
    oracle=_sql_spans(spans.SQL_COVERAGE, within_doc=False),
    tags=("llm", "dedup", "substring", "rewrite"),
)
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring detection (Lee et al. 2022,
    arXiv:2107.06499 'Deduplicating Training Data Makes Language
    Models Better'): per document, the merged token spans covered by
    any >= K-token run that appears verbatim (case-insensitively) in
    another document. Unlike the fixed-grid passage operators, which
    only catch aligned duplication, stride-1 windows catch a repeated
    run at any offset, so every cross-doc repeat of length >= K is
    found. K is the single recall/cost knob; the cost model is
    `operators/spans.py`'s.

    Output: per doc (all docs), token count, merged span count,
    covered duplicated tokens, and their share. This is the detect
    side; `dedup_substring_rewrite` cuts the same spans."""
    return _spans(spark, sf_dir, spans.coverage, within_doc=False)


@query(
    "dedup_substring_rewrite",
    oracle=_sql_spans(spans.SQL_EXCISE, within_doc=False),
    tags=("llm", "dedup", "substring", "rewrite"),
)
def dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remove side of `dedup_exact_substring_spans`: rewrite each
    document with every cross-document >= K-token repeated run cut out
    (original case preserved; detection hashes the lowercased window,
    so case variants of a run are removed everywhere). This is the
    Lee et al. 2022 dedup applied as a transformation, the arbitrary-
    offset complement of `corpus_paragraph_dedup_rewrite`'s fixed
    grid. Its n_removed equals the detect side's n_dup_tokens."""
    return _spans(spark, sf_dir, spans.excise, within_doc=False)


@query(
    "dedup_selfrepeat_substring_spans",
    oracle=_sql_spans(spans.SQL_COVERAGE, within_doc=True),
    tags=("llm", "dedup", "substring", "selfrepeat"),
)
def dedup_selfrepeat_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_exact_substring_spans` with within-document repeats
    included: Lee et al. 2022 deduplicate a >= K-token run that
    appears twice anywhere, and real corpora hit the self-repeat case
    first (boilerplate-heavy pages repeat their own navigation and
    footer runs), which the cross-doc operator scores 0.

    A window qualifies when it has two non-overlapping occurrences: in
    two distinct documents, or twice in one document at positions >= K
    apart (`spans.repeated` with `within_doc`). Overlapping-only
    self-matches, the same text region seen through a periodic run
    shorter than 2K, do not qualify: there is no second copy to remove.
    Every occurrence of a qualifying window is flagged, as in the
    cross-doc operator (both copies count toward dup_token_share)."""
    return _spans(spark, sf_dir, spans.coverage, within_doc=True)


@query(
    "dedup_selfrepeat_rewrite",
    oracle=_sql_spans(spans.SQL_EXCISE, within_doc=True),
    tags=("llm", "dedup", "substring", "selfrepeat", "rewrite"),
)
def dedup_selfrepeat_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remove side of `dedup_selfrepeat_substring_spans`, as
    `dedup_substring_rewrite` is of the cross-doc pair: every >= K-token
    run with a second non-overlapping occurrence anywhere (another doc,
    or >= K tokens away in the same doc) is cut from every document,
    the boilerplate navigation/footer case a real corpus hits first.
    Case-insensitive detection, original-case output; n_removed equals
    the detect side's n_dup_tokens."""
    return _spans(spark, sf_dir, spans.excise, within_doc=True)
