"""Cache hygiene: queries that persist intermediates must leave no
persistent RDDs behind once materialized + released (long-lived
sessions compose many queries; leaked executor memory is a scale
bug, not a style nit)."""

from __future__ import annotations

import pytest

from bigdata_project_spark.caching import persistent_rdd_ids, release_cached
from bigdata_project_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()

# the queries that persist / localCheckpoint during build or execution,
# and the two counter streams, whose state-store counts must leave no
# cache behind either
_CACHING_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_cluster_components",
    "corpus_clean_pipeline",
    "stream_countmin_incremental",
    "stream_quantile_incremental",
    "stream_url_frontier_dedup",
    "stream_semantic_incremental_dedup",
    "stream_incremental_rollup",
    "stream_audio_incremental_neardup",
]


@pytest.mark.parametrize("name", _CACHING_QUERIES)
def test_no_persistent_rdds_after_release(name, spark, sf_dir):
    release_cached(spark)  # clean slate
    df = REGISTRY[name].fn(spark, sf_dir)
    assert df.count() > 0
    release_cached(spark)
    assert persistent_rdd_ids(spark) == set(), f"{name} leaked persistent RDDs"


def test_clustering_loop_frees_superseded_checkpoints(spark, sf_dir):
    """During the label-propagation loop only O(1) checkpoints are
    held (current labels), not one per iteration."""
    release_cached(spark)
    df = REGISTRY["dedup_cluster_components"].fn(spark, sf_dir)
    # after the build (which runs the loop eagerly), the live set is just
    # the final labels checkpoint — not diameter-many
    live = persistent_rdd_ids(spark)
    assert len(live) <= 2, f"expected <=2 live cached RDDs after build, saw {len(live)}"
    assert df.count() > 0
    release_cached(spark)
    assert persistent_rdd_ids(spark) == set()


def test_sequential_sweep_bounds_cache_accumulation(spark, sf_dir):
    """A plain sequential sweep through queries() (the external
    harness shape — build, materialize, next, never releasing) must
    not accumulate tracked caches: each build releases the previous
    query's. Regression test for the heap exhaustion a 139x3 sweep
    hit when persists piled up un-released."""
    from bigdata_project_spark.registry import all_queries

    qs = all_queries()
    release_cached(spark)
    for name in ["dedup_minhash_lsh", "contamination_ngram_overlap", "sim_ann_lsh_banded"]:
        qs[name](spark, sf_dir).count()
        # caches of at most ONE query are live at any point
        assert len(persistent_rdd_ids(spark)) <= 3, name
    release_cached(spark)
    assert persistent_rdd_ids(spark) == set()


def test_deferred_collect_survives_next_build(spark, sf_dir):
    """If a harness builds several queries before collecting them, the
    pre-build auto-release must not break the earlier result: plain
    caches may be dropped (recompute), but localCheckpoint blocks
    backing a built-but-uncollected clustering result must survive."""
    from bigdata_project_spark.registry import all_queries

    qs = all_queries()
    release_cached(spark)
    comp = qs["dedup_cluster_components"](spark, sf_dir)   # checkpoints during build
    other = qs["dedup_minhash_lsh"](spark, sf_dir)         # wrapper releases caches
    assert comp.count() > 0                                # still computable
    assert other.count() > 0
    release_cached(spark)
    assert persistent_rdd_ids(spark) == set()
