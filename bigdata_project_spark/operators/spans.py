"""Span excision: the one path from a document's tokens to its
repeated or leaked k-token spans, and from those spans to the
document with them cut out (Lee et al. 2022, arXiv:2107.06499
'Deduplicating Training Data Makes Language Models Better').

Every stride-1 span query composes the same steps over a `base`
relation of (doc_id, words):

    windows -> hits (doc_id, i) -> intervals (doc_id, s, e) -> coverage | excise

`repeated` finds the hits in the corpus itself: windows whose text
occurs a second time without overlap. Decontamination finds them by
joining `windows` to a benchmark shingle set. Stride-1 windows catch
a run at any offset, and overlapping windows merge back into one span,
so a length-L run is one L-token span, not L-k+1 fragments.

Each step has a DuckDB twin that the oracles are built from, as CTEs
over the same names: `wo` (doc_id, words) -> `win` (doc_id, i, w) ->
`hits` (doc_id, i) -> `iv` (doc_id, s, e).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def words(text: Column) -> Column:
    """Original-case whitespace tokens, empties removed. A NULL text is
    an empty array: size(NULL) is -1 in Spark, and the span queries
    emit a row for every document."""
    return F.array_remove(F.split(F.coalesce(text, F.lit("")), r"\s+"), "")


def windows(base: DataFrame, k: int) -> DataFrame:
    """(doc_id, i, w): every stride-1 k-token window of `base`, with i
    its 0-based start and w its lowercased text. The tokens are
    lowercased once per document, then sliced. The windows are
    O(n_tokens x k) map-side work: the price of exactness without a
    suffix array, which is a batch job and not a relational operator."""
    # lowercasing never adds or removes a space, so the split gives back
    # the same tokens; a higher-order transform(words, lower) would run
    # outside whole-stage codegen
    low = base.filter(F.size("words") >= k).select(
        "doc_id", F.split(F.lower(F.array_join("words", " ")), " ").alias("low")
    )
    pos = low.select("doc_id", "low", F.explode(F.sequence(F.lit(0), F.size("low") - k)).alias("i"))
    return pos.select("doc_id", "i", F.concat_ws(" ", F.slice("low", F.col("i") + 1, k)).alias("w"))


def repeated(base: DataFrame, k: int, within_doc: bool) -> DataFrame:
    """(doc_id, i): the windows of `base` whose text has a second,
    non-overlapping occurrence: in another document, or, with
    `within_doc`, k or more tokens away in the same document. Every
    occurrence of such a window is a hit.

    Only 128-bit md5 hashes shuffle. One map-side-combinable (hash,
    doc) aggregate gives each hash its document count nd and its
    largest in-document position spread mx, and two occurrences in one
    document are k or more apart exactly when max(i) - min(i) >= k. So
    a periodic run shorter than 2k, which only overlaps itself, does
    not qualify: there is no second copy."""
    wh = windows(base, k).select("doc_id", "i", F.md5("w").alias("h"))
    per_doc = wh.groupBy("h", "doc_id").agg((F.max("i") - F.min("i")).alias("spread"))
    per_hash = per_doc.groupBy("h").agg(F.count("*").alias("nd"), F.max("spread").alias("mx"))
    keep = F.col("nd") >= 2
    if within_doc:
        keep = keep | (F.col("mx") >= k)
    return wh.join(per_hash.filter(keep).select("h"), "h").select("doc_id", "i")


def intervals(hits: DataFrame, k: int) -> DataFrame:
    """(doc_id, s, e): the k-token windows starting at `hits` (doc_id, i)
    merged into token ranges [s, e). A hit opens a new island when the
    doc's previous hit is k or more positions back, so overlapping
    windows merge and adjacent ones stay separate spans. The merge is
    one doc_id-keyed window over the hits only."""
    w = Window.partitionBy("doc_id").orderBy("i")
    prev = F.lag("i").over(w)
    new_island = F.when(prev.isNull() | (F.col("i") - prev >= k), 1).otherwise(0)
    isl = hits.select("doc_id", "i", F.sum(new_island).over(w).alias("island"))
    return isl.groupBy("doc_id", "island").agg(
        F.min("i").alias("s"), (F.max("i") + k).alias("e")
    ).drop("island")


def coverage(base: DataFrame, iv: DataFrame) -> DataFrame:
    """The detect output, one row per document of `base`: n_tokens,
    n_spans, n_dup_tokens (the tokens the spans cover) and
    dup_token_share."""
    per_doc = iv.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"), F.sum(F.col("e") - F.col("s")).alias("n_dup_tokens")
    )
    n = F.size("words")
    dup = F.coalesce("n_dup_tokens", F.lit(0))
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        dup.alias("n_dup_tokens"),
        F.when(n == 0, F.lit(0.0)).otherwise(dup.cast("double") / n).alias("dup_token_share"),
    )


def excise(base: DataFrame, iv: DataFrame) -> DataFrame:
    """The rewrite output, one row per document of `base`: n_tokens,
    n_removed and text_clean, the original-case tokens outside every
    [s, e) of `iv` joined in order by single spaces. Tokens meet their
    doc's few intervals in one doc_id equi-join with the range test as
    residual, and come back together through a sorted (p, token)
    struct list: they travel twice, the floor for a rewrite."""
    tokens = base.filter(F.size("words") > 0).select(
        "doc_id", F.posexplode("words").alias("p", "token")
    )
    kept = tokens.join(
        iv, (tokens.doc_id == iv.doc_id) & (tokens.p >= iv.s) & (tokens.p < iv.e), "left_anti"
    )
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "token"))), lambda x: x["token"]
            ),
        ).alias("text_clean"),
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        F.size("words").cast("long").alias("n_tokens"),
        (F.size("words") - F.coalesce("n_kept", F.lit(0))).cast("long").alias("n_removed"),
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
    )


# ---------------------------------------------------------- DuckDB twins

# the twin of `words`, an expression over `text`
SQL_WORDS = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"


def sql_windows(k: int) -> str:
    """The twin of `windows`: CTE `win` (doc_id, i, w) over a `wo`
    (doc_id, words) CTE."""
    return f"""
    win_pos AS (
        SELECT doc_id, words, unnest(range(len(words) - {k} + 1)) AS i
        FROM wo WHERE len(words) >= {k}
    ),
    win AS (
        SELECT doc_id, i, lower(array_to_string(words[i + 1 : i + {k}], ' ')) AS w
        FROM win_pos
    )"""


def sql_repeated(k: int, within_doc: bool) -> str:
    """The twin of `repeated`: CTE `hits` (doc_id, i) over `win`."""
    spread = f" OR MAX(spread) >= {k}" if within_doc else ""
    return f"""
    wh AS (SELECT doc_id, i, md5(w) AS h FROM win),
    wh_doc AS (SELECT h, doc_id, MAX(i) - MIN(i) AS spread FROM wh GROUP BY h, doc_id),
    rep AS (SELECT h FROM wh_doc GROUP BY h HAVING COUNT(*) >= 2{spread}),
    hits AS (SELECT wh.doc_id, wh.i FROM wh JOIN rep USING (h))"""


def sql_intervals(k: int) -> str:
    """The twin of `intervals`: CTE `iv` (doc_id, s, e) over `hits`."""
    return f"""
    flagged AS (
        SELECT doc_id, i,
               CASE WHEN i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i) >= {k}
                      OR LAG(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
                    THEN 1 ELSE 0 END AS new_island
        FROM hits
    ),
    isl AS (
        SELECT doc_id, i, SUM(new_island) OVER (PARTITION BY doc_id ORDER BY i) AS island
        FROM flagged
    ),
    iv AS (SELECT doc_id, MIN(i) AS s, MAX(i) + {k} AS e FROM isl GROUP BY doc_id, island)"""


# the twin of `coverage`: the last CTE and the SELECT, over `wo` and `iv`
SQL_COVERAGE = """
    per_doc AS (
        SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS n_dup_tokens, COUNT(*) AS n_spans
        FROM iv GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(len(t.words), 0) AS BIGINT) AS n_tokens,
           COALESCE(p.n_spans, 0) AS n_spans,
           COALESCE(p.n_dup_tokens, 0) AS n_dup_tokens,
           CASE WHEN COALESCE(len(t.words), 0) = 0 THEN 0.0
                ELSE CAST(COALESCE(p.n_dup_tokens, 0) AS DOUBLE) / len(t.words) END
             AS dup_token_share
    FROM wo t LEFT JOIN per_doc p USING (doc_id)"""

# the twin of `excise`: the last CTEs and the SELECT, over `wo` and `iv`
SQL_EXCISE = """
    tok AS (
        SELECT doc_id, i.p AS p, words[i.p + 1] AS token
        FROM wo, LATERAL (SELECT unnest(range(len(words))) AS p) i
        WHERE len(words) > 0
    ),
    kept AS (
        SELECT t.doc_id, t.p, t.token FROM tok t
        WHERE NOT EXISTS (
            SELECT 1 FROM iv v
            WHERE v.doc_id = t.doc_id AND t.p >= v.s AND t.p < v.e)
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(token, ' ' ORDER BY p) AS text_clean
        FROM kept GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(COALESCE(len(w.words), 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(len(w.words), 0) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.text_clean, '') AS text_clean
    FROM wo w LEFT JOIN agg a ON a.doc_id = w.doc_id"""
