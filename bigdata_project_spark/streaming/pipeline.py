"""Structured Streaming pipelines (SURVEY.md §2.9).

The reference declares: Kafka source -> Spark Structured Streaming
(clean/transform/UDFs/aggregates) -> HDFS + MongoDB sinks
(README.md:9-33), with every implementation file a 0-byte stub
(test_spark_streaming.py, kafka-cluster.yaml, zookeeper-*.yaml).

This module implements that layer Spark-first:

- file source as the stream (testable, exactly-once); the Kafka
  source is the same code path behind `read_kafka_stream` — only the
  source/format options differ (README's `kafka` -> `subscribe`);
- event-time watermarks bounding state;
- tumbling-window aggregates, streaming dedup, stream-static join;
- availableNow trigger = bounded backfill run over the same code.

The registered `stream_*` queries run the streaming pipeline to
completion (availableNow -> memory sink) and return the result as a
batch DataFrame, so the driver's oracle harness checks streaming
results against plain SQL — the strongest correctness gate a
streaming operator can get.

At scale: these pipelines shuffle once per stateful stage on the
group keys; watermarks expire state so the dedup/window state stays
bounded regardless of stream length. Sinks in production are
`writeStream.format("parquet").option("checkpointLocation", ...)`
(exactly-once) or foreachBatch for upsert stores — exercised in
tests/test_streaming.py.
"""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.caching import barrier
from bigdata_project_spark.exact import SQL_DSUM, dcast, dsum
from bigdata_project_spark.operators.staging import BatchStore
from bigdata_project_spark.registry import query
from bigdata_project_spark.tables import load, parquet_row_count, parquet_schema


def _stream_dir(sf_dir: str) -> str:
    """Spark's file stream source wants a directory; the testbed ships
    a single parquet file. Stage a symlink dir under /tmp (read-only
    view of the source — nothing is copied)."""
    import hashlib

    d = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_stream",
        hashlib.md5(sf_dir.encode()).hexdigest()[:12],
        "events",
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), link)
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a bounded file-source stream with the same
    schema+timestamp normalization as the batch loader."""
    # settable here so a driver-provided vanilla session works even if
    # this streaming query is the first thing it runs
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw_schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(raw_schema).parquet(_stream_dir(sf_dir))
    ts_type = dict(stream.dtypes)["ts"]
    if ts_type == "bigint":  # TIMESTAMP(NANOS) read as long
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":  # ms-precision parquet; session tz is
        # UTC so the cast changes type only — watermarks require TIMESTAMP
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def decode_kafka_value(raw: DataFrame, schema) -> DataFrame:
    """Kafka wire format -> typed rows: the binary `value` column is
    decoded as JSON against an enforced schema. Factored out of
    read_kafka_stream so the decode path is testable against any
    streaming source that produces a binary `value` column (tests
    drive it with the rate source; see test_streaming.py)."""
    return raw.select(F.from_json(F.col("value").cast("string"), schema).alias("r")).select("r.*")


def read_kafka_stream(spark: SparkSession, brokers: str, topic: str, schema) -> DataFrame:
    """Kafka source -> typed stream (README.md:9-13): same downstream
    code path as the file source. The broker connection itself is not
    exercised in tests (no broker in the container); the decode stage
    is covered via the rate source, and the file-source pipelines
    cover the downstream operators."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .load()
    )
    return decode_kafka_value(raw, schema)


# A state partition costs each batch about 9 ms (delta file, checksum,
# their shell-outs) on a 4-vCPU host, but a per-row stateful operator
# runs only as parallel as its partitions: at 100,000 events one
# partition made stream_stateful_max_jump 2.8x slower than four.
_STATE_ROWS_PER_PARTITION = 25_000


def state_partitions(state_rows: int, shuffle_partitions: int) -> int:
    """State partitions for at most `state_rows` rows of state: one per
    `_STATE_ROWS_PER_PARTITION`, at least 1, at most `shuffle_partitions`."""
    return max(1, min(shuffle_partitions, -(-state_rows // _STATE_ROWS_PER_PARTITION)))


@contextmanager
def sized_state(spark: SparkSession, state_rows: int) -> Iterator[None]:
    """Around a stream's `start()`: its shuffle (so state) partitions
    are `state_partitions(state_rows, <session's>)`. The query clones
    the session conf at start and batch 0 records the value in the
    offset log, where a restart reads it; the session's own value is
    restored on exit."""
    key = "spark.sql.shuffle.partitions"
    session_value = spark.conf.get(key)
    spark.conf.set(key, str(state_partitions(state_rows, int(session_value))))
    try:
        yield
    finally:
        spark.conf.set(key, session_value)


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str, state_rows: int, checkpoint: str
) -> int:
    """Run a streaming DataFrame to completion into the memory-sink
    table `name`, holding at most `state_rows` rows of state; returns
    the micro-batch count."""
    spark = stream_df.sparkSession
    spark.catalog.dropTempView(name)  # False when there is none; no catalog scan
    with sized_state(spark, state_rows):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    return len(q.recentProgress)


def run_available_now(stream_df: DataFrame, name: str, output_mode: str, state_rows: int) -> DataFrame:
    """`run_to_memory` on a temporary checkpoint; returns the result
    as a batch DataFrame. The memory-sink table does not read the
    checkpoint once the query has terminated, and removing it removes
    a replay's orphan temporary state-store files too (`session`)."""
    with tempfile.TemporaryDirectory(prefix=f"ckpt_{name}_", ignore_cleanup_errors=True) as ckpt:
        run_to_memory(stream_df, name, output_mode, state_rows, ckpt)
    return stream_df.sparkSession.table(name)


def _events_rows(sf_dir: str) -> int:
    """No aggregation, dedup or join buffer holds more state rows."""
    return parquet_row_count(f"{sf_dir}/events.parquet")


@query(
    "stream_tumbling_hourly",
    oracle=f"""
    SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
           event_type,
           COUNT(*) AS n_events,
           {SQL_DSUM('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window"),
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregate with a 1-hour watermark,
    run via availableNow — the core of the reference's declared
    'Aggregates' stage (README.md:22). Oracle = the same aggregation
    in plain SQL (a bounded availableNow run drops nothing)."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return run_available_now(agg, "stream_tumbling_hourly", "complete", _events_rows(sf_dir))


@query(
    "stream_dedup_user_type",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    tags=("streaming", "dedup"),
)
def stream_dedup_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates with watermark-bounded state — the
    streaming form of the reference's crawl set()-dedup
    (CrawlData.py:12,34). Output is the key set (arrival-order
    independent)."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    dedup = ev.dropDuplicates(["user_id", "event_type"]).select("user_id", "event_type")
    return run_available_now(dedup, "stream_dedup_user_type", "append", _events_rows(sf_dir))


@query(
    "stream_stream_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL '30 minutes'
     AND c.ts <= p.ts
    """,
    tags=("streaming", "join", "interval"),
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (SURVEY §2.9 'interval/overlap
    join'): purchases matched to same-user clicks in the trailing 30
    minutes, both sides watermarked so join state expires. A bounded
    availableNow run emits exactly the batch join (the oracle)."""
    ev = read_events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id"))
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), F.col("event_id").alias("click_id"))
        .withWatermark("c_ts", "1 hour")
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    joined = purchases.join(clicks, cond).select(
        "purchase_id", "click_id", F.col("p_user").alias("user_id")
    )
    return run_available_now(joined, "stream_stream_interval_join", "append", _events_rows(sf_dir))


@query(
    "stream_sliding_30m_10m",
    oracle="""
    WITH slid AS (
        SELECT e.*,
               time_bucket(INTERVAL '10 minutes', e.ts) - k.k * INTERVAL '10 minutes' AS w_start
        FROM events e
        CROSS JOIN (SELECT unnest(range(3)) AS k) k
        WHERE e.ts < time_bucket(INTERVAL '10 minutes', e.ts) - k.k * INTERVAL '10 minutes' + INTERVAL '30 minutes'
    )
    SELECT epoch_us(w_start) AS window_start_us,
           COUNT(*) AS n_events
    FROM slid
    GROUP BY 1
    """,
    tags=("streaming", "window"),
)
def stream_sliding_30m_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding window (30m width / 10m slide) with
    watermark, via availableNow; every event expands into 3
    overlapping windows before the shuffle."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "30 minutes", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.unix_micros(F.col("w.start")).alias("window_start_us"), "n_events")
    )
    # each event opens up to 3 windows
    return run_available_now(agg, "stream_sliding_30m_10m", "complete", 3 * _events_rows(sf_dir))


@query(
    "stream_session_30m",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL '30 minutes'
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), numbered AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           COUNT(*) AS n_events,
           {SQL_DSUM('value')} AS session_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
    tags=("streaming", "window", "session"),
)
def stream_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-minute gap) per user — the
    stateful merge-on-overlap operator, run as a bounded stream.
    Oracle = the batch gaps-and-islands construction (complete mode
    emits every session, so the bounded run matches batch exactly)."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("session_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
            "session_value",
        )
    )
    return run_available_now(agg, "stream_session_30m", "complete", _events_rows(sf_dir))


@query(
    "stream_static_join_weighted",
    oracle=f"""
    SELECT epoch_us(time_bucket(INTERVAL '6 hours', ts)) AS window_start_us,
           COUNT(*) AS n_events,
           {SQL_DSUM("value * CASE event_type WHEN 'purchase' THEN 5.0 WHEN 'signup' THEN 3.0 WHEN 'click' THEN 1.0 WHEN 'view' THEN 0.5 ELSE 0.0 END")} AS weighted_value
    FROM events
    GROUP BY 1
    """,
    tags=("streaming", "join"),
)
def stream_static_join_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: streaming events enriched with a broadcast
    static dimension (event-type weights), then windowed weighted
    aggregation — the reference's 'enrich with district dim' pattern
    (SURVEY §2.9). The static side is broadcast to every task; no
    stream-side shuffle for the join."""
    weights = spark.createDataFrame(
        [("purchase", 5.0), ("signup", 3.0), ("click", 1.0), ("view", 0.5), ("error", 0.0)],
        ["event_type", "weight"],
    )
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "6 hours")
    joined = ev.join(F.broadcast(weights), "event_type")
    agg = (
        joined.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value") * F.col("weight")).alias("weighted_value"),
        )
        .select(F.unix_micros(F.col("w.start")).alias("window_start_us"), "n_events", "weighted_value")
    )
    return run_available_now(agg, "stream_static_join_weighted", "complete", _events_rows(sf_dir))


def _max_jump_fn(key, pdf_iter, state):
    """Per-user custom state: track the largest value increase between
    time-consecutive events. State carries (n, last ts/event_id/value,
    best jump) so later micro-batches continue from the frontier."""
    import pandas as pd

    if state.exists:
        n, last_ts, last_eid, last_val, best = state.get
    else:
        n, last_ts, last_eid, last_val, best = 0, None, None, None, None
    chunks = [pdf for pdf in pdf_iter]
    pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
    for row in pdf.itertuples(index=False):
        # a NULL value (NaN in the Arrow batch) yields no jump with
        # either neighbor — the SQL `value - LAG(value)` NULL
        # arithmetic. Guarding here matters doubly: `NaN - x` would
        # otherwise seed `best = NaN` (when best is None) and NaN
        # poisons every later `>` comparison, nulling the user's
        # max_jump forever.
        v_ok = pd.notna(row.value)
        if last_val is not None and v_ok:
            jump = float(row.value) - last_val
            if best is None or jump > best:
                best = jump
        n += 1
        last_ts, last_eid = row.ts, int(row.event_id)
        last_val = float(row.value) if v_ok else None
    state.update((n, last_ts, last_eid, last_val, best))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "max_jump": [best]})


@query(
    "stream_stateful_max_jump",
    oracle="""
    WITH ordered AS (
        SELECT user_id, value,
               value - LAG(value) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS jump
        FROM events
    )
    SELECT user_id, COUNT(*) AS n_events, MAX(jump) AS max_jump
    FROM ordered
    GROUP BY user_id
    """,
    tags=("streaming", "stateful", "custom"),
)
def stream_stateful_max_jump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState) —
    SURVEY §2.9's 'price-change tracking per id' as a first-class
    query: per user, the largest increase between time-consecutive
    event values. Imperative per-key logic no built-in streaming
    aggregate expresses (it depends on event ORDER, not just values);
    the oracle is the batch LAG-window equivalent, so the stateful
    path is hash-checked against plain SQL.

    State per key is O(1) (count + frontier row + best jump) — the
    shape that holds for unbounded streams; a production deployment
    adds a processing-time timeout to evict idle users. The bounded
    availableNow run delivers all rows in one ordered batch per key,
    so the emitted update equals the batch answer."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = read_events_stream(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    out = ev.groupBy("user_id").applyInPandasWithState(
        _max_jump_fn,
        outputStructType="user_id long, n_events long, max_jump double",
        stateStructType="n long, last_ts timestamp, last_eid long, last_val double, best double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_available_now(out, "stream_stateful_max_jump", "update", _events_rows(sf_dir))


@query(
    "stream_incremental_rollup",
    oracle=f"""
    SELECT epoch_us(date_trunc('day', ts)) AS day_start_us,
           event_type,
           COUNT(*) AS n_events,
           {SQL_DSUM('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "rollup", "foreachBatch"),
)
def stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance end-to-end: the STREAMING
    hourly tier (watermarked tumbling window, update mode) is
    materialized by foreachBatch into a parquet rollup store —
    upsert-by-key emulated as one `BatchStore` write per micro-batch
    + last-writer-wins on the store's `batch` column, the pattern any
    idempotent sink (Delta MERGE, key-value upsert) implements — and
    the DAY tier is then one tiny batch
    re-aggregation over the store. The oracle aggregates raw events
    straight to days, proving the streaming tier + upsert + rollup
    composition lossless (decimal sums re-aggregate exactly).

    Scale: the streaming stage keeps only per-(hour, type) state
    bounded by the watermark; each micro-batch appends just its
    CHANGED hourly rows (update mode), so maintaining the rollup
    costs O(changed windows), not O(history) — refreshing a day after
    a late event touches one hourly upsert + one day row. The final
    dedup (max_by on batch per key) and day rollup run over the
    hourly store, which is orders of magnitude smaller than the
    stream."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dcast("value")).alias("sv"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("hour_start_us"),
            "event_type",
            "n_events",
            "sv",
        )
    )

    with tempfile.TemporaryDirectory(prefix="rollup_", ignore_cleanup_errors=True) as work:
        # idempotent upsert stand-in: readers resolve each (hour, type)
        # key to its LAST writer. A Delta / JDBC sink would MERGE here
        # with identical semantics.
        store = BatchStore(os.path.join(work, "store"), hourly.schema)
        with sized_state(spark, _events_rows(sf_dir)):
            q = (
                hourly.writeStream.foreachBatch(store.write)
                .outputMode("update")
                .option("checkpointLocation", os.path.join(work, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()

        raw = store.read(spark)
        latest = raw.groupBy("hour_start_us", "event_type").agg(
            F.max_by("n_events", "batch").alias("n_events"),
            F.max_by("sv", "batch").alias("sv"),
        )
        day = (
            latest.groupBy(
                F.date_trunc("day", F.timestamp_micros("hour_start_us")).alias("d"),
                "event_type",
            )
            .agg(F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv"))
            .select(
                F.unix_micros("d").alias("day_start_us"),
                "event_type",
                "n_events",
                F.col("sv").cast("double").alias("total_value"),
            )
        )
        # materialize before the store and the checkpoint are removed
        return barrier(day, eager=True)


@query(
    "stream_daily_distinct_users",
    oracle="""
    SELECT epoch_us(date_trunc('day', ts)) AS day_start_us,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
    tags=("streaming", "distinct", "chained-stateful"),
)
def stream_daily_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT distinct users per day — COUNT(DISTINCT) is not
    a streamable aggregate, so the streaming form chains two stateful
    operators: watermarked dropDuplicates on (user_id, day) emits each
    user's first event of the day exactly once, and a downstream
    count per day sees exactly one row per distinct user. The batch
    twin of this identity is events_sliding_distinct_users' dedup-
    then-count recipe; the oracle is the plain COUNT(DISTINCT).

    Scale: dedup state is one entry per (user, day) inside the
    watermark horizon — bounded and evictable, never per event; the
    downstream count keeps one counter per day. This is the streaming
    counterpart of 'shrink to the deduped key set before counting'."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    keyed = ev.select("user_id", F.date_trunc("day", "ts").alias("day"), "ts")
    firsts = keyed.dropDuplicates(["user_id", "day"])
    daily = (
        firsts.groupBy("day")
        .agg(F.count("*").alias("n_users"))
        .select(F.unix_micros("day").alias("day_start_us"), "n_users")
    )
    return run_available_now(daily, "stream_daily_distinct_users", "complete", _events_rows(sf_dir))


@query(
    "stream_exactly_once_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type
    """,
    tags=("streaming", "dedup", "exactly-once"),
)
def stream_exactly_once_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once repair of an at-least-once transport:
    dropDuplicatesWithinWatermark on the event id. The query SIMULATES
    duplicate delivery by unioning the source stream with itself —
    every event arrives twice, as it would from a Kafka producer
    retry — and the dedup stage collapses each back to one row, so
    the per-type counts equal the plain batch aggregate (the oracle).
    Without the dedup stage every count would be exactly 2x.

    dropDuplicatesWithinWatermark vs dropDuplicates: the plain form
    keys state eviction on the DEDUP COLUMNS' event time (and keeps
    state forever if the key set has no time column); the
    WithinWatermark form guarantees dedup only for duplicates
    arriving within the watermark delay of each other and evicts by
    that horizon — the production contract for transport dedup,
    where retries land within seconds, never across days. State is
    one entry per in-horizon event id, independent of stream length.

    Scale: the dedup shuffles once on event_id; the downstream count
    is the usual partial-agg shuffle over 5 types. Chained stateful
    (dedup -> agg) exactly like stream_daily_distinct_users."""
    a = read_events_stream(spark, sf_dir)
    b = read_events_stream(spark, sf_dir)
    doubled = a.unionAll(b).withWatermark("ts", "1 hour")
    once = doubled.dropDuplicatesWithinWatermark(["event_id"])
    counts = once.groupBy("event_type").agg(F.count("*").alias("n_events"))
    return run_available_now(counts, "stream_exactly_once_dedup", "complete", _events_rows(sf_dir))


@query(
    "stream_stream_left_outer_join",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    wm AS (
        SELECT least((SELECT MAX(ts) FROM p), (SELECT MAX(ts) FROM c))
               - INTERVAL '1 hour' AS w
    ),
    matched AS (
        SELECT p.event_id AS purchase_id, c.event_id AS click_id,
               p.user_id AS user_id
        FROM p JOIN c
          ON p.user_id = c.user_id
         AND c.ts >= p.ts - INTERVAL '30 minutes'
         AND c.ts <= p.ts
    )
    SELECT purchase_id, click_id, user_id FROM matched
    UNION ALL
    SELECT p.event_id, CAST(NULL AS BIGINT), p.user_id
    FROM p, wm
    WHERE p.ts < wm.w
      AND NOT EXISTS (
          SELECT 1 FROM c
          WHERE c.user_id = p.user_id
            AND c.ts >= p.ts - INTERVAL '30 minutes'
            AND c.ts <= p.ts
      )
    """,
    tags=("streaming", "join", "interval", "outer"),
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase emits —
    matched rows as soon as both sides arrive, and a NULL-click row
    once the watermark proves no matching click can still come. The
    oracle encodes the watermark semantics HONESTLY instead of
    pretending the stream flushed everything: a purchase's null row
    exists iff it is unmatched AND its state was evictable under the
    final global watermark, i.e. p_ts < min(max p_ts, max c_ts) - 1h
    (availableNow's trailing no-data micro-batch evicts exactly
    those); later unmatched purchases are still parked in state when
    the bounded run ends, and the oracle deliberately excludes them —
    that asymmetry IS the correct product behavior, the same rows a
    24/7 cluster would not have emitted yet.

    Scale: the interval condition gives both sides finite state
    (clicks kept 30m + delay, purchases until their click window
    closes); state size is bounded by rate x window regardless of
    total history. One user_id-keyed stateful shuffle."""
    ev = read_events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    joined = purchases.join(clicks, cond, "left_outer").select(
        "purchase_id", "click_id", F.col("p_user").alias("user_id")
    )
    return run_available_now(joined, "stream_stream_left_outer_join", "append", _events_rows(sf_dir))


@query(
    "stream_topk_types_daily",
    oracle="""
    WITH agg AS (
        SELECT epoch_us(date_trunc('day', ts)) AS day_start_us,
               event_type, COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT day_start_us, event_type, n_events, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY day_start_us
                                     ORDER BY n_events DESC, event_type) AS rnk
        FROM agg
    ) WHERE rnk <= 3
    """,
    tags=("streaming", "topk", "serving"),
)
def stream_topk_types_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k serving: daily event-type counts maintained by
    the watermarked streaming aggregate, top-3 per day ranked on the
    MATERIALIZED result — the leaderboard shape (trending items,
    top errors, hottest skus) every streaming dashboard serves.
    Ranking is not an incremental operator (a late event can reorder
    a whole window), so the streaming stage maintains only the
    per-(day, type) counts — incremental, bounded state — and the
    rank runs on the tiny continuous-aggregate output at serve time:
    days x types rows, not events. That split (incremental counts in
    the stream, order-sensitive logic on the serve read) is the
    standard production decomposition, same as
    stream_incremental_rollup's upsert store.

    Scale: streaming state is one counter per (day, type) in the
    watermark horizon; the serve-side rank windows over days x 5
    rows. The oracle is the batch twin: group-count then rank."""
    from pyspark.sql.window import Window

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    daily = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.unix_micros("w.start").alias("day_start_us"), "event_type", "n_events")
    )
    agg = run_available_now(daily, "stream_topk_types_daily", "complete", _events_rows(sf_dir))
    w = Window.partitionBy("day_start_us").orderBy(F.desc("n_events"), "event_type")
    return agg.select("*", F.row_number().over(w).alias("rnk")).filter(F.col("rnk") <= 3)


@query(
    "stream_quarantine_gated_daily",
    oracle="""
    WITH flagged AS (
        SELECT event_type, ts,
               CASE WHEN ts IS NULL
                         OR ts <  TIMESTAMP '1990-01-01 00:00:00'
                         OR ts >= TIMESTAMP '2035-01-01 00:00:00'
                    THEN 'ts_out_of_bounds'
                    WHEN isnan(value) OR isinf(value)
                    THEN 'nonfinite_measure:value'
                    ELSE 'clean' END AS reason
        FROM events
    )
    SELECT epoch_us(date_trunc('day', ts)) AS day_start_us,
           'clean' AS reason, event_type,
           COUNT(*) AS n_rows
    FROM flagged WHERE reason = 'clean'
    GROUP BY 1, 3
    UNION ALL
    SELECT CAST(NULL AS BIGINT), reason, CAST(NULL AS VARCHAR), COUNT(*)
    FROM flagged WHERE reason <> 'clean'
    GROUP BY 2
    """,
    tags=("streaming", "qa", "quarantine", "window"),
)
def stream_quarantine_gated_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quarantine gate in its STREAMING position: reasons computed
    map-side BEFORE the watermark, clean rows feeding a watermarked
    daily tumbling count per event_type, quarantined rows counted per
    reason in a separate non-windowed aggregate (their event time is
    untrustworthy BY DEFINITION — aggregating them by it would be
    circular). This placement is the entire point of the r7/r8 audit
    work: one year-9999 sentinel reaching withWatermark would advance
    the global watermark past every legitimate event and silently
    evict them all, and a pre-epoch timestamp lands where window()
    (floors) and unix_micros-division (truncates) disagree — the gate
    keeps the windowed tier inside the range where every bucketing
    idiom agrees.

    Scale: the gate is one codegen CASE on the stream; clean-side
    state is one counter per (day, type) in the watermark horizon;
    quarantine-side state is one counter per reason (<= 2 + measures).
    Both sub-queries run availableNow off the same bounded source, so
    the union of their materialized results is the batch oracle
    exactly."""
    from bigdata_project_spark.quarantine import quarantine_reason

    ev = read_events_stream(spark, sf_dir)
    reason = F.coalesce(
        quarantine_reason(F.col("ts"), {"value": F.col("value")}), F.lit("clean")
    )
    flagged = ev.withColumn("reason", reason)

    clean_daily = (
        flagged.filter(F.col("reason") == "clean")
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_rows"))
        .select(
            F.unix_micros("w.start").alias("day_start_us"),
            F.lit("clean").alias("reason"),
            "event_type",
            "n_rows",
        )
    )
    quarantined = (
        flagged.filter(F.col("reason") != "clean")
        .groupBy("reason")
        .agg(F.count("*").alias("n_rows"))
        .select(
            F.lit(None).cast("long").alias("day_start_us"),
            "reason",
            F.lit(None).cast("string").alias("event_type"),
            "n_rows",
        )
    )
    a = run_available_now(clean_daily, "stream_quarantine_clean_daily", "complete", _events_rows(sf_dir))
    b = run_available_now(quarantined, "stream_quarantine_flagged", "complete", _events_rows(sf_dir))
    return a.unionByName(b)
