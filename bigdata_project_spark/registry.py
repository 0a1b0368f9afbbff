"""Query registry: the single source of truth for the engine's surface.

Every operator from SURVEY.md §2 is declared here as a named query —
a callable (spark, sf_dir) -> DataFrame — optionally paired with an
ANSI-SQL oracle string that DuckDB runs over the same parquet tables.
`__spark_entry__.queries()` / `oracle_sql()` are thin views over this
registry, and tests iterate it.

Determinism contract (so the driver's order-insensitive value-hash
matches between Spark and DuckDB):
- sums/avgs of double columns go through DECIMAL (exact, associative)
  and are cast back to DOUBLE at the end — both engines produce the
  identical IEEE double regardless of partitioning/order;
- timestamps in outputs are emitted as epoch microseconds (BIGINT) or
  ISO date strings, never raw timestamp cells;
- every LIMIT / window-rank has a unique total-order tiebreaker so the
  selected row set is engine-independent;
- column names are aliased identically in the Spark plan and the SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)

    @property
    def doc(self) -> str:
        return (self.fn.__doc__ or "").strip()


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a named query (and its DuckDB oracle SQL)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def _released_build(fn: QueryFn) -> QueryFn:
    """Release the calling session's previously-tracked caches before
    building the next query. Sequential sweeps (the external harness,
    bench, the local oracle gate) materialize each query fully before
    building the next but never call release_cached themselves — so
    tracked persists would otherwise accumulate across hundreds of
    builds and eventually exhaust the driver heap (observed as a
    java.lang.OutOfMemoryError late in a 139-query x 3-scale sweep on
    a default-sized JVM). Contract: one in-flight cached query per
    session; callers that interleave builds of multiple cached queries
    should call REGISTRY[name].fn directly."""
    import functools

    from bigdata_project_spark.caching import release_cached

    @functools.wraps(fn)
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        # caches only — NOT checkpoint blocks: unpersisting a cache
        # just forces recompute if the previous query is somehow still
        # un-collected, but freeing a localCheckpoint would make a
        # built-but-not-yet-collected clustering result unrecomputable
        release_cached(spark, include_rdd_ids=False)
        return fn(spark, sf_dir)

    return build


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: _released_build(spec.fn) for name, spec in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


_LOADED = False

# The driver's correctness harness checks the first 50 registered
# queries. `_ensure_loaded` registers `_DRIVER_FIRST` first, in this
# order, and every other query after it in import order. Only queries
# with a DuckDB oracle belong here: the driver marks a rows-only query
# err, so one would waste a slot. Which queries lead is a rotation
# whose history is in CHANGES.md and git.
_DRIVER_FIRST: tuple[str, ...] = (
    "sim_pq_codes",
    "sim_ann_ivf_probe",
    "dedup_semantic_cells",
    "sim_ivf_trained_cells",
    "retrieval_hybrid_rrf",
    "quality_gopher_full_rules",
    "sim_graph_knn_build",
    "sim_graph_beam_search",
    "sim_recall_graph_at_k",
    "sim_recall_dim_curve",
    "corpus_nb_isotonic_calibration",
    "corpus_nb_calibrated_gate",
    "corpus_quality_ensemble_cal_gate",
    "vocab_unigram_train",
    "vocab_unigram_token_count",
    "vocab_unigram_fertility_by_lang",
    "join_asof_tolerance_1h",
    "join_asof_forward",
    "join_asof_nearest",
    "scalar_collation_ci_grouping",
    "agg_heavy_hitters_exact",
    "sort_pareto_frontier",
    "join_geo_grid_radius",
    "join_interval_overlap_binned",
    "sim_knn_quantized_int8",
    "ivm_join_view_delta",
    "agg_weighted_median_exact",
    "agg_gini_spend_concentration",
    "agg_hhi_market_concentration",
    "events_users_for_p80",
    "sort_keyset_pagination",
    "sub_not_in_null_aware",
    "events_changepoint_cusum",
    "events_ab_test_zflag",
    "dedup_prefix_filter_jaccard",
    "dedup_containment_pairs",
    "dedup_normalized_exact",
    "text_unigram_surprisal",
    "quality_duplicate_passage_share",
    "dedup_minhash_estimate_error",
    "corpus_keep_best_per_cluster",
    "corpus_quality_gate",
    "sim_truncated_dim_recall",
    "sim_maxsim_multivector",
    "sim_ann_lsh_multiprobe",
    "sim_recall_multiprobe",
    "multimodal_audio_chunk_plan",
    "agg_two_stage_salted_flags",
    "agg_histogram_fixed",
    "scalar_string_format",
)


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    import bigdata_project_spark.operators  # noqa: F401  (side-effect imports)
    import bigdata_project_spark.queries  # noqa: F401
    import bigdata_project_spark.streaming  # noqa: F401

    _LOADED = True

    # lenient: a stale name here must reorder less, not take down the
    # whole driver contract (queries()/oracle_sql() are the product
    # surface; raising would fail every query, not just the stale one)
    missing = [n for n in _DRIVER_FIRST if n not in REGISTRY]
    if missing:
        import sys

        print(f"registry: _DRIVER_FIRST names unknown queries {missing}", file=sys.stderr)
    ordered = {n: REGISTRY[n] for n in _DRIVER_FIRST if n in REGISTRY}
    ordered.update((n, s) for n, s in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)
