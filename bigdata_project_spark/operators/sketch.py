"""Deterministic count-min sketch with a measured-error audit (r11).

The count-min sketch (Cormode & Muthukrishnan 2005) is the standard
fixed-memory frequency estimator for streams and massive token
counts: d hash rows x w counters, update adds 1 to one counter per
row, estimate is the MIN over rows — never an underestimate, over by
at most the collision mass. Spark ships one behind
`count_min_sketch`, but (like `approx_count_distinct`'s HLL) its
binary sketch is not replayable in an oracle, so this module builds
the deterministic form the engine's correctness contract wants:

- d = 4 rows, w = 1024 counters; row r's position is hex chars
  3r+1..3r+3 of md5(token), decoded nibble-wise, mod 1024 (4096 is a
  multiple of 1024, so the fold is exactly uniform — no modulo
  bias). md5 is evaluated once per row (`_cms_positions`).
- Build: ONE aggregate keyed by (row, col) — at most 4096 groups no
  matter the corpus size, perfectly map-side-combinable; counters
  are weighted by term frequency, which is identical to streaming
  the occurrences one by one.
- The AUDIT: for the top-20 exact heavy tokens, the query emits the
  exact count, the CMS estimate, and the overestimate — so the
  "never under, rarely much over" contract is MEASURED per token
  (the `join_bloom_fp_audit` discipline: sketches earn their place
  by showing their realized error, not the textbook bound). The
  exact tf table exists here to grade the sketch; a production
  consumer keeps only the 4096-counter table.

Scale: the sketch build shuffles (row, col) keys — constant 4096
cardinality at any corpus size; the sketch broadcasts (~32 KB); the
top-k side is `TakeOrderedAndProject` over the tf aggregate the
repo's token queries already ride.

Reference scope: [ext] — BASELINE north star; companion to the
HLL rows (approx distinct) and Misra-Gries (exact heavy hitters).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.operators.dedup import words_col
from bigdata_project_spark.operators.staging import count_chunk_stream
from bigdata_project_spark.registry import REGISTRY, query
from bigdata_project_spark.tables import load, load_spread

_CMS_D = 4  # hash rows
_CMS_W = 1024  # counters per row
_TOP = 20  # audited heavy tokens


def _cms_pos_sql(r: int) -> str:
    """DuckDB position of row r: 3 hex chars at 3r+1, mod width."""
    terms = [
        f"(instr('0123456789abcdef', substring(md5(token), {3 * r + i + 1}, 1)) - 1)"
        f" * {16 ** (2 - i)}"
        for i in range(3)
    ]
    return "((" + " + ".join(terms) + f") % {_CMS_W})"


# Spark side, md5 once per row: h = its first 12 hex chars as one integer,
# row r's 3 chars are h's 12 bits at 36 - 12r (`_cms_pos_sql`'s decode).
# Plain expressions compile to code; a higher-order lambda would not.
_CMS_H = f"cast(conv(substring(md5(token), 1, {3 * _CMS_D}), 16, 10) as bigint)"
_CMS_POS_ARRAY = "array(" + ", ".join(
    f"cast((shiftright(h, {12 * (_CMS_D - 1 - r)}) & 4095) % {_CMS_W} as int)" for r in range(_CMS_D)
) + ")"


def _cms_positions(df: DataFrame, *keep: str) -> DataFrame:
    """(*keep, r, col): the d hash positions of each row's `token`."""
    return df.select(*keep, F.expr(_CMS_H).alias("h")).select(
        *keep, F.posexplode(F.expr(_CMS_POS_ARRAY)).alias("r", "col")
    )


def _tokens(df: DataFrame) -> DataFrame:
    """(token): one row per token occurrence of a (.., text) relation."""
    return df.select(F.explode(words_col(F.col("text"))).alias("token"))


def _cms_tf(df: DataFrame) -> DataFrame:
    """(token, exact_count) over a (.., text) relation."""
    return _tokens(df).groupBy("token").agg(F.count("*").cast("long").alias("exact_count"))


def _cms_sketch(tf: DataFrame) -> DataFrame:
    """(r, col, c): the counter table from a term-frequency relation
    — weighted build, identical to streaming the occurrences."""
    return _cms_positions(tf, "exact_count").groupBy("r", "col").agg(
        F.sum("exact_count").cast("long").alias("c")
    )


def _cms_audit(tf: DataFrame, sketch: DataFrame) -> DataFrame:
    """Top-20 heavy tokens probed against a counter table: exact,
    min-over-rows estimate, overestimate."""
    top = tf.orderBy(F.desc("exact_count"), F.desc("token")).limit(_TOP)
    probe = _cms_positions(top, "token", "exact_count")
    return (
        probe.join(F.broadcast(sketch), ["r", "col"])
        .groupBy("token", "exact_count")
        .agg(F.min("c").cast("long").alias("cms_estimate"))
        .select(
            "token",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).cast("long").alias(
                "overestimate"
            ),
        )
    )


@query(
    "agg_countmin_audit",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS token
        FROM documents
    ),
    tf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count FROM toks GROUP BY token),
    entries AS (
        SELECT r.r AS r,
               CASE r.r
                 WHEN 0 THEN {_cms_pos_sql(0)}
                 WHEN 1 THEN {_cms_pos_sql(1)}
                 WHEN 2 THEN {_cms_pos_sql(2)}
                 ELSE {_cms_pos_sql(3)}
               END AS col,
               exact_count
        FROM tf, LATERAL (SELECT unnest(range({_CMS_D})) AS r) r
    ),
    sketch AS (
        SELECT r, col, CAST(SUM(exact_count) AS BIGINT) AS c
        FROM entries GROUP BY r, col
    ),
    top AS (
        SELECT token, exact_count FROM tf
        ORDER BY exact_count DESC, token DESC LIMIT {_TOP}
    ),
    probe AS (
        SELECT t.token, t.exact_count, r.r AS r,
               CASE r.r
                 WHEN 0 THEN {_cms_pos_sql(0)}
                 WHEN 1 THEN {_cms_pos_sql(1)}
                 WHEN 2 THEN {_cms_pos_sql(2)}
                 ELSE {_cms_pos_sql(3)}
               END AS col
        FROM top t, LATERAL (SELECT unnest(range({_CMS_D})) AS r) r
    )
    SELECT p.token, p.exact_count,
           CAST(MIN(s.c) AS BIGINT) AS cms_estimate,
           CAST(MIN(s.c) - p.exact_count AS BIGINT) AS overestimate
    FROM probe p JOIN sketch s ON s.r = p.r AND s.col = p.col
    GROUP BY p.token, p.exact_count
    """,
    tags=("llm", "sketch", "countmin", "audit", "scale"),
)
def agg_countmin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch build + per-token error audit for the top-20
    exact heavy tokens: exact count, CMS estimate (min over the 4
    rows), and the realized overestimate. The min-over-rows contract
    (estimate >= exact, always) is value-oracled — DuckDB replays
    the identical md5-slice arithmetic bucket for bucket. Module
    docstring has the layout and the 100 TB shuffle story (constant
    4096-group build, broadcast sketch, TakeOrdered top-k)."""
    tf = _cms_tf(load_spread(spark, sf_dir, "documents"))
    return _cms_audit(tf, _cms_sketch(tf))




# --------------------------------------------- streaming incremental CMS


def _cms_increments(docs: DataFrame) -> DataFrame:
    """(r, col): one counter increment per token occurrence and hash row."""
    return _cms_positions(_tokens(docs))


def run_cms_stream(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> tuple[DataFrame, int]:
    """The count-min sketch in its production home: a STREAM of
    documents, the counter table maintained incrementally across
    micro-batches. Mergeability is THE reason sketches exist at
    scale — per-batch counter increments SUM to exactly the
    batch-build counters (integer addition, order-free) — so the
    streamed table must reproduce `agg_countmin_audit`'s answer bit
    for bit, and the streaming query shares its oracle.

    Mechanics (`staging.count_chunk_stream`): `n_chunks` doc_id-ranged
    micro-batches, each exploded to one (r, col) row per token and hash
    row; a streaming (r, col) count keeps the <= d x w counters in
    Spark's state store, on one state partition. The audit probes the
    last batch's complete-mode output, reachable only through the state
    carried across batches. Counter addition commutes, so no delivery
    order is asserted. Exactly once: a rerun on the stream's checkpoint
    replays only the batches its commit log lacks, on the last
    committed state (tests/test_sketch.py kills and restarts one).

    Scale: per micro-batch work is one token explode + one <= 4096-group
    state update; the state never grows with the corpus."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory(prefix="cms_stream_") as work:
        sketch, n_batches = count_chunk_stream(
            docs, "doc_id", n_chunks, work, _cms_increments, "c", _CMS_D * _CMS_W, "cms_stream"
        )
    tf = _cms_tf(load_spread(spark, sf_dir, "documents"))
    return _cms_audit(tf, sketch), n_batches


@query(
    "stream_countmin_incremental",
    oracle=None,  # set below: shares agg_countmin_audit's oracle
    tags=("streaming", "sketch", "countmin", "state-store", "incremental"),
)
def stream_countmin_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`agg_countmin_audit` with the counter table built INCREMENTALLY
    over three doc_id-ranged micro-batches (see run_cms_stream).
    Shares the batch oracle because per-batch counter increments sum
    to exactly the batch-build counters — the estimates are only
    reachable through the state carried across batches, so the value
    match is a genuine state-carry check of sketch mergeability."""
    res, _ = run_cms_stream(spark, sf_dir, n_chunks=3)
    return res


REGISTRY["stream_countmin_incremental"].oracle = REGISTRY["agg_countmin_audit"].oracle
