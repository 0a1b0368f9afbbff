"""Partition-count invariance: the determinism contract, exercised.

registry.py's contract says double aggregates ride DECIMAL so "both
engines produce the identical IEEE double regardless of
partitioning". That claim is what lets a 1000-executor run at 100 TB
hash-match a 8-thread verification run — but until this test it was
asserted by construction, never exercised: every local run uses one
fixed spark.sql.shuffle.partitions. Here the aggregate/window-heavy
queries run under 32 and then 3 shuffle partitions (AQE's initial
partition count — different partial-aggregate groupings, different
window-frame merge orders, different exchange splits) and must
produce the exact same multiset of canonicalized rows, floats
bit-equal.

A failure here means some aggregate re-associates raw doubles —
exactly the bug class the DECIMAL discipline exists to prevent.
"""

from __future__ import annotations

from collections import Counter
from itertools import product

import pytest

from bigdata_project_spark.listings.ingest import read_listings_json, write_lake_with_quarantine
from bigdata_project_spark.registry import REGISTRY, _ensure_loaded, all_queries
from tests.landing import write_landing
from tests.oracle import _canon

_ensure_loaded()

# double-sum / window / moment heavy — the re-association-sensitive set
_QUERIES = [
    "agg_pricing_summary",        # flagship: 8 decimal-routed aggregates
    "window_running_spend",       # running decimal sum over frames
    "agg_correlation_matrix",     # 15 moments in one scan
    "agg_stats_moments",          # variance/skew/kurtosis
    "events_twap",                # time-weighted average price
    "agg_weighted_median_exact",  # weight cumsum bucket location
    "join_q5_regional_revenue",   # fact-fact join + decimal revenue
    "events_peak_concurrency",    # two-stage sliced sweep carry
    "text_tfidf_top3",            # idf doubles + per-doc ranking
    "agg_winsorized_mean",        # rank-clamped decimal mean
]


def _rows(df) -> Counter:
    cols = sorted(df.columns)
    return Counter(tuple(_canon(r[c]) for c in cols) for r in df.collect())


@pytest.mark.parametrize("name", _QUERIES)
def test_result_invariant_under_shuffle_partition_count(spark, sf_dir, name):
    assert name in REGISTRY, f"unknown query {name}"
    qs = all_queries()
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = _rows(qs[name](spark, sf_dir))
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        narrow = _rows(qs[name](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    diff = (wide - narrow) + (narrow - wide)
    assert not diff, (
        f"{name}: results differ across shuffle-partition counts; "
        f"sample diffs: {list(diff.items())[:3]}"
    )


def test_listings_etl_invariant_under_split_and_shuffle_partition_count(spark, tmp_path):
    """The listings ETL (cached bronze read, dedup window, quarantine
    gate, date-partitioned lake) writes the same lake and quarantine
    rows whether the landing scan's file splits are capped at the
    cores or left to the open-cost packing, and under 32 or 3 shuffle
    partitions."""
    cores = spark.conf.get("spark.sql.shuffle.partitions")
    # enough tiny files that the uncapped scan plans more splits than
    # cores (about 32 files share a split at the 4 MB open cost)
    glob = write_landing(tmp_path / "landing", 40 * int(cores))
    split_key, shuffle_key = "spark.sql.files.maxPartitionNum", "spark.sql.shuffle.partitions"

    def set_conf(key, value):
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)

    orig = {k: spark.conf.get(k, None) for k in (split_key, shuffle_key)}
    results = {}
    try:
        for split_cap, shuffle in product((None, cores), ("32", "3")):
            set_conf(split_key, split_cap)
            set_conf(shuffle_key, shuffle)
            out = tmp_path / f"cap{split_cap}_sp{shuffle}"
            write_lake_with_quarantine(
                read_listings_json(spark, glob), str(out / "lake"), str(out / "q"), mode="overwrite"
            )
            results[(split_cap, shuffle)] = tuple(
                _rows(spark.read.parquet(str(out / sink))) for sink in ("lake", "q")
            )
    finally:
        for k, v in orig.items():
            set_conf(k, v)
    (first, lake_q), *rest = results.items()
    assert lake_q[0] and lake_q[1]
    for setting, other in rest:
        assert other == lake_q, f"{setting} differs from {first}"


def test_full_registry_oracle_matches_under_narrow_partitioning(spark, sf_dir):
    """Blanket partition-invariance: the standard oracle sweep
    (tests/test_queries_oracle.py) verifies every query against
    DuckDB under the session's default shuffle partitioning; this
    repeats the ENTIRE sweep under 3 shuffle partitions. A query that
    matches the same oracle under both settings is partition-count
    invariant — so the per-query spot checks above generalize to the
    whole registry, including every LIMIT/rank tiebreaker and every
    DECIMAL-routed aggregate."""
    from tests.test_degenerate_input import _sweep

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        bad = _sweep(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert not bad, "narrow-partitioning divergences:\n" + "\n".join(bad)
