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
  bias). Same lambda-bound decode discipline as `bloom.py` (md5
  evaluated once per row).
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.operators.dedup import words_col
from bigdata_project_spark.registry import REGISTRY, query
from bigdata_project_spark.tables import load_spread

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


# Spark-side: all 4 positions from ONE md5 evaluation (lambda-bound,
# the bloom.py discipline)
_CMS_POS_ARRAY = f"""
    transform(array(md5(token)), h ->
      transform(sequence(0, {_CMS_D - 1}), r ->
        ((instr('0123456789abcdef', substring(h, r * 3 + 1, 1)) - 1) * 256
         + (instr('0123456789abcdef', substring(h, r * 3 + 2, 1)) - 1) * 16
         + (instr('0123456789abcdef', substring(h, r * 3 + 3, 1)) - 1))
        % {_CMS_W}))[0]
"""


def _cms_tf(df: DataFrame) -> DataFrame:
    """(token, exact_count) over a (.., text) relation."""
    return (
        df.select(F.explode(words_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("exact_count"))
    )


def _cms_entries(tf: DataFrame) -> DataFrame:
    """(exact_count, r, col): one weighted counter increment per
    (token, hash row)."""
    return tf.select(
        "exact_count", F.posexplode(F.expr(_CMS_POS_ARRAY)).alias("r", "col")
    )


def _cms_sketch(tf: DataFrame) -> DataFrame:
    """(r, col, c): the counter table from a term-frequency relation
    — weighted build, identical to streaming the occurrences."""
    return _cms_entries(tf).groupBy("r", "col").agg(
        F.sum("exact_count").cast("long").alias("c")
    )


def _cms_audit(tf: DataFrame, sketch: DataFrame) -> DataFrame:
    """Top-20 heavy tokens probed against a counter table: exact,
    min-over-rows estimate, overestimate."""
    top = tf.orderBy(F.desc("exact_count"), F.desc("token")).limit(_TOP)
    probe = top.select(
        "token", "exact_count", F.posexplode(F.expr(_CMS_POS_ARRAY)).alias("r", "col")
    )
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


def run_cms_stream(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> tuple[DataFrame, int]:
    """The count-min sketch in its production home: a STREAM of
    documents, the counter table maintained incrementally across
    micro-batches. Mergeability is THE reason sketches exist at
    scale — per-batch counter deltas SUM to exactly the batch-build
    counters (integer addition, order-free) — so the streamed store
    must reproduce `agg_countmin_audit`'s answer bit for bit, and
    the streaming query shares its oracle.

    Mechanics (`staging.run_counter_stream`): `n_chunks` doc_id-ranged
    micro-batches; each sums the batch's unsummed (r, col, c)
    increments together with the previous store version in ONE
    (r, col) aggregate (integer sums over a union are order-free, so
    this equals sketch-then-merge) into a batch-id-keyed store
    version, and the final audit probes only the last version — a real
    state-carry check, not a union replay. The store stays <= d x w rows at every version.
    Unlike the frontier (first-writer-wins needs order), NO
    delivery-order assertion exists here — counter addition commutes,
    and that is exactly the property being demonstrated.

    Scale: per micro-batch work is one token count + one <= 4096-group
    merge aggregate; the store never grows with the corpus."""
    import tempfile

    from bigdata_project_spark.operators.staging import run_counter_stream
    from bigdata_project_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    init = docs.limit(0).select(
        F.lit(0).alias("r"), F.lit(0).alias("col"), F.lit(0).cast("long").alias("c")
    )
    with tempfile.TemporaryDirectory(prefix="cms_stream_") as work:
        sketch, n_batches = run_counter_stream(
            docs,
            "doc_id",
            n_chunks,
            work,
            init,
            lambda b: _cms_entries(_cms_tf(b)).withColumnRenamed("exact_count", "c"),
        )
    tf = _cms_tf(load_spread(spark, sf_dir, "documents"))
    return _cms_audit(tf, sketch), n_batches


@query(
    "stream_countmin_incremental",
    oracle=None,  # set below: shares agg_countmin_audit's oracle
    tags=("streaming", "sketch", "countmin", "foreachBatch", "incremental"),
)
def stream_countmin_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`agg_countmin_audit` with the counter table built INCREMENTALLY
    over three doc_id-ranged micro-batches (see run_cms_stream).
    Shares the batch oracle because per-batch counter deltas sum to
    exactly the batch-build counters — the estimates are only
    reachable through the consolidated cross-batch store, so the
    value match is a genuine state-carry check of sketch
    mergeability."""
    res, _ = run_cms_stream(spark, sf_dir, n_chunks=3)
    return res


REGISTRY["stream_countmin_incremental"].oracle = REGISTRY["agg_countmin_audit"].oracle
