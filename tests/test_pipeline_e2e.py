"""EP1 end-to-end (SURVEY.md §3): crawl (fake transport) -> normalize
-> silver -> date-partitioned lake -> read back -> flagship-style
analytics — the reference's whole production DAG, distributed."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_project_spark.caching import persistent_rdd_ids
from bigdata_project_spark.listings.crawl import crawl_to_dataframe
from bigdata_project_spark.listings.ingest import (
    read_listings_json,
    silver_transform,
    write_lake,
    write_lake_with_quarantine,
)
from tests.landing import write_landing
from tests.test_crawl import make_fake_api


def test_crawl_to_lake_to_analytics(spark, tmp_path):
    lake = str(tmp_path / "lake")
    bronze = crawl_to_dataframe(spark, limit_rows=40, fetcher=make_fake_api(45), sleep_s=0)
    silver = silver_transform(bronze)
    write_lake(silver, lake, mode="overwrite")

    back = spark.read.parquet(lake)
    # partition pruning works on the date layout
    assert "ingest_date" in back.columns
    # flagship-style question over the lake: avg price_per_m2 and
    # count per district, ordered (SURVEY §7 step 1)
    top = (
        back.groupBy("district")
        .agg(F.count("*").alias("n"), F.avg("price_per_m2").alias("avg_ppm2"))
        .orderBy(F.desc("n"), "district")
        .collect()
    )
    assert top and top[0]["n"] == back.count()  # single fake district
    # silver invariants: ids unique, event_time populated
    assert back.select("id").distinct().count() == back.count()
    assert back.filter(F.col("event_time").isNull()).count() == 0


def test_silver_quarantine_side_output(spark, tmp_path):
    """Round-8 verdict ask: the r7 audits must ACT in the pipeline,
    not just measure. Poison the crawl corpus with a NaN latitude, a
    year-9999 event time (watermark poison), and a pre-1990 event
    time (the floor-vs-truncate bucketing range); the quarantine gate
    must route exactly those rows to the side output with the right
    reasons, and the lake must hold only rows every downstream tier
    can consume (finite measures, in-window event time)."""
    base = make_fake_api(45)
    poison = {
        103: ("lat_nan",),       # NaN latitude -> nonfinite_measure:lat
        105: ("ts_future",),     # post-2035 sentinel -> ts_out_of_bounds
        107: ("ts_preepoch",),   # 1969 -> ts_out_of_bounds
    }

    def fetcher(url: str):
        r = base(url)
        if isinstance(r, dict) and "ad" in r and r["ad"]["list_id"] in poison:
            kind = poison[r["ad"]["list_id"]][0]
            if kind == "lat_nan":
                r["ad"]["latitude"] = float("nan")
            elif kind == "ts_future":
                # 2036-01-01T00:00Z in ms — past the 2035 validity
                # bound but inside Python datetime's collectable range
                # (a true 9999 sentinel breaks row conversion on
                # collect, which is the point of quarantining it
                # before anything downstream materializes it)
                r["ad"]["list_time"] = 2082758400000
            elif kind == "ts_preepoch":
                r["ad"]["list_time"] = -86400000  # 1969-12-31, ms
        return r

    lake = str(tmp_path / "lake")
    qdir = str(tmp_path / "quarantine")
    bronze = crawl_to_dataframe(spark, limit_rows=40, fetcher=fetcher, sleep_s=0)
    write_lake_with_quarantine(bronze, lake, qdir, mode="overwrite")

    quarantined = {
        r["id"]: r["quarantine_reason"] for r in spark.read.parquet(qdir).collect()
    }
    assert quarantined == {
        103: "nonfinite_measure:lat",
        105: "ts_out_of_bounds",
        107: "ts_out_of_bounds",
    }

    back = spark.read.parquet(lake)
    assert back.filter(F.col("id").isin(103, 105, 107)).count() == 0
    # every surviving row is consumable by the windowed + exact tiers
    assert back.filter(
        F.col("event_time").isNull()
        | (F.col("event_time") < F.lit("1990-01-01").cast("timestamp"))
        | (F.col("event_time") >= F.lit("2035-01-01").cast("timestamp"))
    ).count() == 0
    assert back.filter(
        F.isnan("price_per_m2") | F.isnan("lat") | F.isnan("lng")
    ).count() == 0
    # nothing else was dropped: clean + quarantined partitions the input
    silver_n = silver_transform(bronze).count()
    assert back.count() + len(quarantined) == silver_n


def test_quarantine_sinks_leave_caller_cache_alone(spark, tmp_path):
    """write_lake_with_quarantine caches the bronze frame for its two
    writes only when the caller has not: a caller's cache survives the
    call at its own level, also when the call gets another DataFrame
    over the same plan, and a call on an uncached frame leaves the
    persisted RDDs as they were."""
    glob = write_landing(tmp_path / "landing", 30)

    def run(df, name):
        write_lake_with_quarantine(
            df, str(tmp_path / name / "lake"), str(tmp_path / name / "q"), mode="overwrite"
        )

    before = persistent_rdd_ids(spark)
    run(read_listings_json(spark, glob), "uncached")
    assert persistent_rdd_ids(spark) == before

    cached = read_listings_json(spark, glob).cache()
    try:
        level = cached.storageLevel
        run(cached, "cached")
        assert cached.is_cached and cached.storageLevel == level
        run(read_listings_json(spark, glob), "same_plan")
        assert cached.storageLevel == level
    finally:
        cached.unpersist()
    assert spark.read.parquet(str(tmp_path / "cached" / "lake")).count() == (
        spark.read.parquet(str(tmp_path / "uncached" / "lake")).count()
    )
