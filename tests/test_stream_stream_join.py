"""Stream-stream interval join (SURVEY.md §2.9 'interval/overlap
join') — the last deferred streaming operator: purchases joined to
same-user clicks in the trailing 30 minutes, with watermarks bounding
both sides' state."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_project_spark.streaming.pipeline import read_events_stream, run_available_now
from bigdata_project_spark.tables import load, parquet_row_count


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    joined = purchases.join(clicks, cond).select("p_id", "c_id")
    result = run_available_now(
        joined, "t_ss_join", "append", parquet_row_count(f"{sf_dir}/events.parquet")
    )

    bev = load(spark, sf_dir, "events")
    bp = bev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    bc = bev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    batch = bp.join(bc, cond).select("p_id", "c_id")
    assert sorted(map(tuple, result.collect())) == sorted(map(tuple, batch.collect()))
    assert result.count() > 0
