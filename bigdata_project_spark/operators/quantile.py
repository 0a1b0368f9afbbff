"""Deterministic mergeable quantile sketch + error audit + streaming
incremental form (round 12).

Quantiles are the one sketch family the engine still answered only
exactly (`agg_weighted_median_exact`, `agg_spend_decile_buckets`);
at 100 TB an operator wants the fixed-memory summary every metrics
system ships (HdrHistogram, Prometheus native histograms, DataDog's
DDSketch): a FIXED-BOUNDARY exponential histogram. Each value (in
integer cents — the engine's money discipline) maps to a bucket by
(exponent, top-4 mantissa bits):

    idx(v) = v                                        if v < 16
           = 16*(bitlen(v) - 4) + (v >> (bitlen(v) - 5)) - 16

i.e. 16 sub-buckets per power of two. The bucket's value range is
[lo, hi] with (hi - lo)/lo <= 1/16 = 6.25% — the a-priori relative
error bound — and the whole store is AT MOST 16 x 60 + 16 = 976
rows for ANY BIGINT input, at any corpus size (111 materialize on
the testbed's price domain). Buckets are value-determined (no data-
dependent compaction like GK/t-digest), which buys the two
properties the engine's contracts want:

- DETERMINISM: idx is integer arithmetic, identical on both engines
  — the sketch itself is value-oracled, not just its quantiles;
- MERGEABILITY: two sketches merge by adding counts per idx —
  exactly a map-side-combinable groupBy, and the reason the
  streaming form can share the batch oracle bit for bit.

The AUDIT (the `agg_countmin_audit` discipline — a sketch earns its
place by showing realized error, not the textbook bound): for each
decile rank, the bucket the sketch locates vs the EXACT rank value
(computed sort-free over the distinct-value relation, the `lm.py`
cumulative recipe), with containment (the histogram is lossless on
ranks across buckets, so the exact value always lands inside the
located bucket) and the realized relative-width bound per decile.

Scale: the build is one map-side-combinable groupBy on <= 976 keys;
the audit's exact side aggregates per distinct VALUE (bounded by
the value domain, not the row count) and runs one single-partition
window over that compressed table; the decile probe joins a 9-row
broadcast. The streaming form (`run_quantile_stream`) sums per-batch
increments into bucket counts kept in Spark's state store, never more
than the fixed bucket count.

Reference scope: [ext] — BASELINE north star; completes the sketch
family (Bloom FP audit, CMS overestimate audit, HLL tolerance,
Misra-Gries) with the quantile member.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata_project_spark.operators.staging import count_chunk_stream
from bigdata_project_spark.registry import REGISTRY, query
from bigdata_project_spark.tables import load

_N_DECILES = 10
_MAX_BUCKETS = 16 * 60 + 16  # buckets of any BIGINT input (module docstring)

# cents -> bucket index (Spark SQL spelling; DuckDB twin below uses
# >> and // but identical arithmetic)
_IDX_SPARK = (
    "CASE WHEN v < 16 THEN v ELSE 16 * (length(bin(v)) - 4) "
    "+ shiftright(v, length(bin(v)) - 5) - 16 END"
)
_LO_SPARK = (
    "CASE WHEN idx < 16 THEN idx "
    "ELSE shiftleft(16 + idx % 16, CAST(idx div 16 AS INT) - 1) END"
)
_HI_SPARK = (
    "CASE WHEN idx < 16 THEN idx "
    "ELSE shiftleft(16 + idx % 16, CAST(idx div 16 AS INT) - 1) "
    "+ shiftleft(1, CAST(idx div 16 AS INT) - 1) - 1 END"
)

_SQL_CENTS = """
    cents AS (
        SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS v
        FROM lineitem WHERE l_extendedprice IS NOT NULL
    )
"""

_SQL_HIST = """
    bkt AS (
        SELECT CASE WHEN v < 16 THEN v
               ELSE 16 * (length(bin(v)) - 4) + (v >> (length(bin(v)) - 5)) - 16
               END AS idx
        FROM cents
    ),
    hist AS (
        SELECT idx,
               CASE WHEN idx < 16 THEN idx
                    ELSE (16 + idx % 16) << (CAST(idx // 16 AS INT) - 1) END AS lo_cents,
               CASE WHEN idx < 16 THEN idx
                    ELSE ((16 + idx % 16) << (CAST(idx // 16 AS INT) - 1))
                         + (1 << (CAST(idx // 16 AS INT) - 1)) - 1 END AS hi_cents,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM bkt GROUP BY idx
    )
"""

# decile ranks -> located bucket -> exact rank value, shared by the
# batch audit and the streaming form (which substitutes its restored
# store for hist)
_SQL_AUDIT_TAIL = f"""
    cum AS (
        SELECT idx, lo_cents, hi_cents,
               CAST(SUM(cnt) OVER (ORDER BY idx) AS BIGINT) AS le_cnt
        FROM hist
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM hist),
    tgt AS (
        SELECT d.d AS decile, t.n_total,
               (d.d * t.n_total + {_N_DECILES - 1}) // {_N_DECILES} AS target_rank
        FROM (SELECT unnest(range(1, {_N_DECILES})) AS d) d CROSS JOIN tot t
    ),
    est AS (
        SELECT t.decile, t.n_total, t.target_rank, MIN(c.idx) AS bucket_idx
        FROM tgt t JOIN cum c ON c.le_cnt >= t.target_rank
        GROUP BY t.decile, t.n_total, t.target_rank
    ),
    vc AS (SELECT v, COUNT(*) AS c FROM cents GROUP BY v),
    vcum AS (
        SELECT v, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS le FROM vc
    ),
    ex AS (
        SELECT t.decile, MIN(u.v) AS exact_cents
        FROM tgt t JOIN vcum u ON u.le >= t.target_rank
        GROUP BY t.decile
    )
    SELECT e.decile, e.n_total, e.target_rank, e.bucket_idx,
           h.lo_cents, h.hi_cents, x.exact_cents,
           CAST(x.exact_cents BETWEEN h.lo_cents AND h.hi_cents AS INT) AS contained,
           CAST(h.hi_cents - h.lo_cents AS DOUBLE) / NULLIF(h.lo_cents, 0)
             AS max_rel_err
    FROM est e
    JOIN hist h ON h.idx = e.bucket_idx
    JOIN ex x ON x.decile = e.decile
"""


def _cents(li: DataFrame) -> DataFrame:
    """(v): the non-null extended prices of lineitem rows in cents."""
    return li.filter(F.col("l_extendedprice").isNotNull()).select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("v")
    )


def _hist_counts(cents: DataFrame) -> DataFrame:
    """(idx, cnt): the sketch store — <= 976 rows for any input."""
    return (
        cents.select(F.expr(_IDX_SPARK).alias("idx"))
        .groupBy("idx")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def _with_bounds(counts: DataFrame) -> DataFrame:
    """Attach the value-determined [lo, hi] range to each bucket."""
    return counts.select(
        "idx",
        F.expr(_LO_SPARK).alias("lo_cents"),
        F.expr(_HI_SPARK).alias("hi_cents"),
        "cnt",
    )


def _audit(spark: SparkSession, hist: DataFrame, cents: DataFrame) -> DataFrame:
    """Decile audit of a (possibly restored) bucket store against the
    exact rank values of `cents` — the Spark twin of
    _SQL_AUDIT_TAIL."""
    cum = hist.select(
        "idx",
        "lo_cents",
        "hi_cents",
        F.sum("cnt").over(Window.orderBy("idx")).cast("long").alias("le_cnt"),
    )
    tot = hist.agg(F.sum("cnt").cast("long").alias("n_total"))
    dec = spark.range(1, _N_DECILES).select(F.col("id").alias("decile"))
    tgt = dec.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_total",
        F.expr(f"(decile * n_total + {_N_DECILES - 1}) div {_N_DECILES}").alias(
            "target_rank"
        ),
    )
    est = (
        tgt.join(F.broadcast(cum), F.col("le_cnt") >= F.col("target_rank"))
        .groupBy("decile", "n_total", "target_rank")
        .agg(F.min("idx").alias("bucket_idx"))
    )
    vc = cents.groupBy("v").agg(F.count("*").alias("c"))
    vcum = vc.select(
        "v", F.sum("c").over(Window.orderBy("v")).cast("long").alias("le")
    )
    ex = (
        vcum.join(
            F.broadcast(tgt.select(F.col("decile").alias("x_dec"), "target_rank")),
            F.col("le") >= F.col("target_rank"),
        )
        .groupBy("x_dec")
        .agg(F.min("v").alias("exact_cents"))
    )
    return (
        est.join(
            F.broadcast(
                hist.select(
                    F.col("idx").alias("h_idx"), "lo_cents", "hi_cents"
                )
            ),
            F.col("bucket_idx") == F.col("h_idx"),
        )
        .join(F.broadcast(ex), F.col("decile") == F.col("x_dec"))
        .select(
            "decile",
            "n_total",
            "target_rank",
            "bucket_idx",
            "lo_cents",
            "hi_cents",
            "exact_cents",
            F.col("exact_cents")
            .between(F.col("lo_cents"), F.col("hi_cents"))
            .cast("int")
            .alias("contained"),
            (
                (F.col("hi_cents") - F.col("lo_cents")).cast("double")
                / F.expr("nullif(lo_cents, 0)")
            ).alias("max_rel_err"),
        )
    )


@query(
    "agg_quantile_sketch_hist",
    oracle=f"""
    WITH {_SQL_CENTS},
    {_SQL_HIST}
    SELECT idx, lo_cents, hi_cents, cnt FROM hist
    """,
    tags=("llm", "sketch", "quantile", "histogram", "scale"),
)
def agg_quantile_sketch_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile sketch itself: the exponential fixed-boundary
    histogram of lineitem extended prices in cents — bucket index,
    the bucket's value-determined [lo, hi] range, and its count.
    <= 976 rows for any BIGINT input (111 on the testbed domain),
    mergeable by adding counts per idx, bit-deterministic on both
    engines (module docstring has the layout and bounds)."""
    return _with_bounds(_hist_counts(_cents(load(spark, sf_dir, "lineitem"))))


@query(
    "agg_quantile_sketch_audit",
    oracle=f"""
    WITH {_SQL_CENTS},
    {_SQL_HIST},
    {_SQL_AUDIT_TAIL}
    """,
    tags=("llm", "sketch", "quantile", "audit", "scale"),
)
def agg_quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile error audit of the quantile sketch: the bucket the
    cumulative store locates for each decile rank vs the exact rank
    value — containment (always 1: the histogram is lossless on
    ranks across buckets) and the realized relative-width bound
    (<= 6.25% by construction; the audit MEASURES it per decile).
    The exact side is computed sort-free over the distinct-value
    relation, so grading the sketch never sorts the fact table."""
    cents = _cents(load(spark, sf_dir, "lineitem"))
    hist = _with_bounds(_hist_counts(cents))
    return _audit(spark, hist, cents)


# --------------------------------------------- streaming incremental


def run_quantile_stream(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> tuple[DataFrame, int]:
    """The quantile sketch in its production home: a STREAM of
    lineitem rows, the bucket counts maintained incrementally across
    micro-batches. Per-batch bucket increments SUM to exactly the
    batch-build counters (integer addition, order-free), so the
    streamed table reproduces `agg_quantile_sketch_audit`'s answer
    bit for bit and the streaming query shares its oracle.

    Mechanics: `staging.count_chunk_stream`, the count-min stream's
    harness — `n_chunks` l_orderkey-ranged micro-batches, each mapped
    to one bucket index per non-null price; a streaming idx count keeps
    the <= 976 bucket counts in Spark's state store. The audit probes
    the last batch's complete-mode output, reachable only through the
    state carried across batches. Exactly once: a rerun on the stream's
    checkpoint replays only uncommitted batches, on the last committed
    state."""
    import tempfile

    li = load(spark, sf_dir, "lineitem")
    with tempfile.TemporaryDirectory(prefix="quantile_stream_") as work:
        store, n_batches = count_chunk_stream(
            li.select("l_orderkey", "l_extendedprice"), "l_orderkey", n_chunks, work,
            lambda s: _cents(s).select(F.expr(_IDX_SPARK).alias("idx")),
            "cnt", _MAX_BUCKETS, "quantile_stream",
        )
    return _audit(spark, _with_bounds(store), _cents(li)), n_batches


@query(
    "stream_quantile_incremental",
    oracle=None,  # set below: shares agg_quantile_sketch_audit's oracle
    tags=("streaming", "sketch", "quantile", "state-store", "incremental"),
)
def stream_quantile_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`agg_quantile_sketch_audit` with the bucket counts built
    INCREMENTALLY over three l_orderkey-ranged micro-batches (see
    run_quantile_stream). Shares the batch oracle because per-batch
    bucket increments sum to exactly the batch-build counters — the
    located buckets are only reachable through the state carried
    across batches, so the value match is a genuine state-carry
    check of sketch mergeability."""
    res, _ = run_quantile_stream(spark, sf_dir, n_chunks=3)
    return res


REGISTRY["stream_quantile_incremental"].oracle = REGISTRY[
    "agg_quantile_sketch_audit"
].oracle
