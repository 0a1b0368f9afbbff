"""Physical-plan assertions: the plans must be the ones a 100 TB run
wants — filters pushed to the parquet scan, pruned read schemas,
broadcast joins for dims, TakeOrderedAndProject for top-k, and
whole-stage codegen on the hot path (SURVEY.md §4)."""

from __future__ import annotations

import contextlib
import io
import re

from bigdata_project_spark.registry import REGISTRY, _ensure_loaded
from tools.dump_plans import normalize

_ensure_loaded()


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "agg_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    # column pruning: the scan must not read l_orderkey/l_partkey etc.
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_orderkey" not in read_schema and "l_comment" not in read_schema


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    # AQE only shows codegen in the *executed* plan
    df = REGISTRY["agg_pricing_summary"].fn(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen'd operators
    assert "*(1)" in executed and "partial_sum" in executed


def test_dim_joins_are_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_revenue_per_nation")
    assert "BroadcastHashJoin" in plan


def test_semi_anti_join_strategies(spark, sf_dir):
    assert "LeftSemi" in plan_of(spark, sf_dir, "join_semi_big_spenders")
    assert "LeftAnti" in plan_of(spark, sf_dir, "join_anti_never_ordered")


def test_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sort_top100_orders")
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT k


def test_range_join_broadcasts_bands(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_range_price_bands")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_partial_aggregation_present(spark, sf_dir):
    # partial+final HashAggregate (map-side combine before the shuffle)
    plan = plan_of(spark, sf_dir, "agg_pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_projection_reaches_scan_for_embeddings(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sim_centroid_per_label")
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "vec_id" not in read_schema  # only label+embedding are read


def test_exists_decorrelates_to_semi_join(spark, sf_dir):
    # correlated EXISTS must become a (broadcastable) left-semi join,
    # not a per-row subquery re-execution
    plan = plan_of(spark, sf_dir, "sub_exists_urgent_buyers")
    assert "LeftSemi" in plan
    assert "Subquery" not in plan


def test_not_exists_decorrelates_to_anti_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sub_not_exists_no_big_order")
    assert "LeftAnti" in plan
    assert "Subquery" not in plan


def test_scalar_subquery_becomes_agg_plus_outer_join(spark, sf_dir):
    # decorrelation: aggregate lineitem once, outer-join back — a
    # single scan of the inner table regardless of outer cardinality
    df = REGISTRY["sub_scalar_correlated_max_item"].fn(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # AQE plan strings include the initial plan too — assert on the
    # final plan section only
    final = executed.split("Initial Plan")[0]
    assert "LeftOuter" in final
    assert final.count("Scan parquet") == 2  # orders once, lineitem once


def test_lateral_topk_uses_window_group_limit(spark, sf_dir):
    # LATERAL ... ORDER BY ... LIMIT k compiles to WindowGroupLimit —
    # a map-side partial top-k before the shuffle, not a full sort of
    # every group
    df = REGISTRY["join_lateral_top2_per_nation"].fn(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in executed


def test_banded_ann_is_single_equi_join(spark, sf_dir):
    # the candidate stage must be one equi-join on (band, bucket) —
    # never a nested-loop/cartesian over vectors
    plan = plan_of(spark, sf_dir, "sim_ann_lsh_banded")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # hash/sort-merge equi-join on (band, bucket); locally AQE may
    # broadcast the small exploded side — both are equi-join physical
    # forms, never a nested loop over vector pairs
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_funnel_is_single_data_shuffle(spark, sf_dir):
    # the N-step funnel must cost one hash exchange on user_id —
    # all conditional-MIN windows and the per-user aggregate reuse
    # that partitioning; the only other exchange is the 1-row
    # SinglePartition rollup of the step counters
    plan = plan_of(spark, sf_dir, "events_funnel_view_click_purchase")
    assert plan.count("Arguments: hashpartitioning(user_id") == 1
    assert plan.count("Arguments: SinglePartition") == 1


def test_contamination_probe_is_broadcast(spark, sf_dir):
    # the benchmark shingle set must broadcast: the corpus side is a
    # map-side hash probe, never shuffled for candidate generation
    plan = plan_of(spark, sf_dir, "contamination_ngram_overlap")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_packing_window_is_partition_parallel(spark, sf_dir):
    # packing runs per source: the cumsum window must hash-partition
    # on source, never collapse to a single global sorted partition
    plan = plan_of(spark, sf_dir, "pack_sequences_by_source")
    assert "hashpartitioning(source" in plan
    assert "SinglePartition" not in plan


def test_incremental_merge_broadcasts_batch(spark, sf_dir):
    # incremental ingestion must probe the corpus with the broadcast
    # batch hash set — never shuffle the corpus side to absorb a batch
    plan = plan_of(spark, sf_dir, "dedup_incremental_merge")
    assert plan.count("BroadcastHashJoin") >= 2  # batch-hash probe + hits join
    assert "CartesianProduct" not in plan


def test_global_packing_single_partition_only_for_offsets(spark, sf_dir):
    # the global cumsum must come from per-source windows + a tiny
    # offset table; the only SinglePartition work is the #sources-row
    # offset window, never the document rows
    plan = plan_of(spark, sf_dir, "pack_sequences_global")
    assert "hashpartitioning(source" in plan
    assert plan.count("Arguments: SinglePartition") == 1
    assert "BroadcastHashJoin" in plan  # offsets joined back by broadcast


def test_exchange_budgets(spark, sf_dir):
    """Shuffle-count regression guard: each query's exchange budget is
    part of its scale contract — a refactor that adds an exchange is a
    perf regression even when results stay correct. Budgets count
    'Exchange ' occurrences in the AQE-final plan (broadcast exchanges
    are counted separately by test_* asserts above)."""
    budgets = {
        # 1 hash exchange: partial -> final aggregate
        "dedup_exact_hash": 1,
        # repartition spread + the final aggregate only
        "agg_pricing_summary": 1,
        # per-source window + nothing else (packing is map-side after)
        "pack_sequences_by_source": 1,
        # repartition for the CPU-bound map; NO aggregation exchange
        "quality_repetition_filter": 1,
        # round-4 flagships: budgets are the measured AQE-final counts
        # li x orders SMJ (2) + per-order rollup + supplier aggregate
        "tpch_q21_waiting_suppliers": 4,
        # (user, day) agg + path histogram + count-distinct expand
        "events_top_paths": 3,
        # lag + running sum + session aggregate all ride ONE exchange
        "window_session_numbering": 1,
        # one exchange per rollup tier (hour -> day -> month)
        "events_rollup_cascade": 3,
        # bucket aggregate + count-distinct expand
        "lake_zorder_key": 2,
        # daily-count aggregate + trailing window (per-user rollup reuses)
        "events_anomaly_daily_zscore": 2,
        # dims broadcast; at this sf AQE broadcasts orders too (<= 2
        # keeps the budget honest when the fact-fact SMJ materializes)
        "tpch_q9_product_type_profit": 2,
    }
    for name, budget in budgets.items():
        df = REGISTRY[name].fn(spark, sf_dir)
        df.collect()
        # AQE prints the final plan then an "Initial Plan" copy — count
        # exchanges in the final section only
        plan = df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
        n = (
            plan.count("Exchange hashpartitioning")
            + plan.count("Exchange rangepartitioning")
            + plan.count("Exchange SinglePartition")
        )
        assert n <= budget, f"{name}: {n} exchanges > budget {budget}"


def test_fixed_k_sample_uses_window_group_limit(spark, sf_dir):
    # rank<=k must compile to WindowGroupLimit: each map task keeps its
    # local top-k before the exchange, so the shuffle carries
    # O(k x partitions) — not the corpus
    plan = plan_of(spark, sf_dir, "sample_fixed_k_per_stratum")
    assert "WindowGroupLimit" in plan


def test_q6_predicates_reach_scan_no_join(spark, sf_dir):
    # TPC-H Q6 is the canonical pushdown probe: bracket predicates in
    # PushedFilters, pruned read schema, no join operator at all
    plan = plan_of(spark, sf_dir, "tpch_q6_forecast_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity" in plan
    assert "Join" not in plan
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_orderkey" not in read_schema and "l_returnflag" not in read_schema


def test_q10_limit_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan  # nation side


def test_q14_q19_part_join_broadcasts(spark, sf_dir):
    for name in ("tpch_q14_promo_revenue", "tpch_q19_bracket_revenue"):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_chunking_has_no_shuffle(spark, sf_dir):
    # chunking must stay a pure per-row explode: any Exchange means a
    # gratuitous full-text shuffle at 100 TB
    plan = plan_of(spark, sf_dir, "chunk_documents_overlap")
    assert "Exchange" not in plan
    assert "Generate" in plan  # posexplode survived


def test_vocab_is_partial_agg_then_topk(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "vocab_top_terms")
    # map-side combine before the token shuffle, then top-k without a
    # global sort
    assert plan.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_is_scan_side(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sample_quality_weighted")
    assert "Exchange" not in plan and "Join" not in plan


def test_q7_q8_dim_roles_all_broadcast(spark, sf_dir):
    # both nation/region roles (supplier-side and customer-side) must
    # broadcast — the 8-table plans may not sort-merge a dim
    for name in ("tpch_q7_volume_shipping", "tpch_q8_market_share"):
        plan = plan_of(spark, sf_dir, name)
        assert plan.count("BroadcastHashJoin") >= 4, name


def test_q2_q16_q20_subquery_join_strategies(spark, sf_dir):
    # Q2: correlated MIN decorrelated into a window over broadcast
    # joins, top-k without a global sort
    plan = plan_of(spark, sf_dir, "tpch_q2_min_cost_supplier")
    assert "Window" in plan and "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    # Q16: NOT IN -> LEFT ANTI against the broadcast excluded set
    plan = plan_of(spark, sf_dir, "tpch_q16_supplier_part_counts")
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    # Q20: nested IN -> aggregate + LEFT SEMI
    plan = plan_of(spark, sf_dir, "tpch_q20_excess_shippers")
    assert "LeftSemi" in plan


def test_q4_exists_is_semi_join_with_pushdown(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q4_order_priority")
    assert "LeftSemi" in plan
    # quarter bracket reaches the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q9_single_fact_shuffle(spark, sf_dir):
    # part + supplier-geo broadcast; lineitem x orders is the only
    # sort-merge-eligible pair
    plan = plan_of(spark, sf_dir, "tpch_q9_product_type_profit")
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("SortMergeJoin") <= 1


def test_q11_q15_reuse_cached_aggregate(spark, sf_dir):
    # the flow/revenue view must be computed once and reused for both
    # the global scalar and the filter — no second fact scan
    for name in ("tpch_q11_important_parts", "tpch_q15_top_supplier"):
        plan = plan_of(spark, sf_dir, name)
        assert "InMemoryTableScan" in plan, name
        from bigdata_project_spark.caching import release_cached

        release_cached(spark)


def test_q12_year_bracket_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q12_late_priority")
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_q17_avg_join_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q17_small_quantity_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q21_decorrelated_single_lineitem_pass(spark, sf_dir):
    # the EXISTS/NOT EXISTS pair is one per-(order,supplier) aggregate;
    # the per-order rollup must reuse it (ReusedExchange under AQE),
    # not re-join lineitem x orders
    plan = plan_of(spark, sf_dir, "tpch_q21_waiting_suppliers")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # supplier geo side


def test_gopher_rules_is_pure_map(spark, sf_dir):
    # rule-based quality filtering must never shuffle the corpus
    plan = plan_of(spark, sf_dir, "quality_gopher_rules")
    assert "Exchange" not in plan and "Join" not in plan


def test_mixture_weights_no_text_shuffle(spark, sf_dir):
    # only the per-source aggregate shuffles (tiny); the normalizer is
    # a 1-row broadcast — text never moves
    plan = plan_of(spark, sf_dir, "mixture_source_weights")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "doc_id" not in read_schema  # pruned to source+text


def test_inverted_index_filters_before_collect(spark, sf_dir):
    # the kept-token set must broadcast into the pairs side so the
    # posting-list collect only ever sees pre-bounded groups
    plan = plan_of(spark, sf_dir, "index_inverted_postings")
    assert "BroadcastHashJoin" in plan
    assert "collect_set" in plan


def test_zorder_key_is_codegen_arithmetic(spark, sf_dir):
    # 64 shift-mask-or terms, all inside whole-stage codegen; a single
    # small rollup on the bucket key
    from bigdata_project_spark.registry import REGISTRY

    df = REGISTRY["lake_zorder_key"].fn(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in executed  # codegen on the scan+project stage


def test_rollup_cascade_tiers_reaggregate(spark, sf_dir):
    # three HashAggregate tiers (hour, day, month) — only the first
    # one may shuffle wide; the upper tiers ride on tiny inputs
    plan = plan_of(spark, sf_dir, "events_rollup_cascade")
    assert plan.count("HashAggregate") >= 4  # 3 tiers, partial+final on the first


def test_top_paths_single_fact_shuffle_and_topk(spark, sf_dir):
    # per-group sort/truncate happens inside the (user, day)
    # aggregate — no global Window over raw events; top-20 is
    # TakeOrderedAndProject
    plan = plan_of(spark, sf_dir, "events_top_paths")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_triangle_census_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "graph_triangle_stats")
    assert "CartesianProduct" not in plan
    from bigdata_project_spark.caching import release_cached

    release_cached(spark)


def test_anomaly_zscore_bounded_window(spark, sf_dir):
    # one (user, day) aggregate shuffle + one per-user window with a
    # bounded 7-row frame — no unbounded-preceding state
    plan = plan_of(spark, sf_dir, "events_anomaly_daily_zscore")
    assert "Window" in plan
    assert "unboundedpreceding" not in plan.lower()


def test_frame_sample_plan_is_pure_map(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "multimodal_frame_sample_plan")
    assert "Exchange" not in plan and "Join" not in plan


def test_session_numbering_shares_one_sort(spark, sf_dir):
    # lag and the running sum must ride the SAME (user_id) exchange +
    # (ts, event_id) sort — two Window ops, one Exchange on the facts
    plan = plan_of(spark, sf_dir, "window_session_numbering")
    # count partitioning expressions on Arguments lines — formatted
    # explain never prints "Exchange hashpartitioning" on one line
    n_exchanges = plan.count("hashpartitioning(")
    assert n_exchanges <= 2  # facts once + the final (user, session) agg
    assert plan.count("Window") >= 2


def test_column_profile_single_scan(spark, sf_dir):
    # multiple count-distincts must expand into one scan (Expand),
    # not #columns scans
    plan = plan_of(spark, sf_dir, "qa_column_profile")
    # formatted plans print each operator twice (tree line + detail
    # block), so ONE physical scan == exactly two mentions
    assert plan.count("Scan parquet") == 2
    assert "Expand" in plan


def test_burst_and_slope_share_user_exchange(spark, sf_dir):
    # both the RANGE-frame window (burst) and the anchor-window +
    # aggregate (slope) must ride a single user_id exchange
    for name in ("events_burst_detection", "events_user_trend_slope"):
        plan = plan_of(spark, sf_dir, name)
        # count the partitioning expressions on Arguments lines —
        # formatted explain never prints "Exchange hashpartitioning"
        # on one line, which made the old count vacuous
        assert plan.count("hashpartitioning(") <= 1, name


def test_market_basket_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_market_basket_pairs")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_share_of_total_no_single_partition_on_facts(spark, sf_dir):
    # the grand total must be a broadcast of the grouped table, not a
    # SUM() OVER () empty-frame window over the facts
    plan = plan_of(spark, sf_dir, "agg_share_of_total")
    assert "Window" not in plan


def test_peak_concurrency_two_stage_sliced_sweep(spark, sf_dir):
    # the sweep must be the TWO-STAGE sliced form: the curve's sort
    # runs per (event_type, slice) — never per event_type alone (5
    # distinct types would serialize the whole doubled delta stream
    # into 5 sort partitions at 100 TB) — with the tiny carry-in
    # offsets table coming back as a broadcast join, and no cartesian
    # or shuffle join anywhere
    plan = plan_of(spark, sf_dir, "events_peak_concurrency")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # the sweep window's exchange and sort both carry the slice key
    assert re.search(r"hashpartitioning\(event_type#\d+, slice#\d+", plan), plan
    assert re.search(r"event_type#\d+ ASC[^,]*, slice#\d+L? ASC[^,]*, t_us#\d+L? ASC", plan), plan
    # the sweep window (the one ordered by t_us) must be partitioned
    # by (event_type, slice), not event_type alone; the only other
    # window (carry-in running total) runs over the tiny per-slice
    # totals table and never orders by t_us
    sweep_specs = [
        s for s in re.findall(r"windowspecdefinition\(([^)]*)\)", plan) if "t_us" in s
    ]
    assert sweep_specs, plan
    for spec in sweep_specs:
        assert "slice" in spec, spec


def test_pointintime_join_is_equi_keyed(spark, sf_dir):
    # the validity-interval predicate must ride an EQUI join on
    # user_id (interval check as residual), never a nested-loop or
    # cartesian over facts x dimension
    plan = plan_of(spark, sf_dir, "join_pointintime_enrich")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_attribution_last_touch_is_joinless(spark, sf_dir):
    # the union-sweep attribution must be a single user_id window —
    # no join of purchases against clicks, one exchange total
    plan = plan_of(spark, sf_dir, "events_attribution_last_touch")
    assert "Join" not in plan
    # formatted explain splits node headers from Arguments lines, so
    # count the partitioning expressions themselves
    assert plan.count("hashpartitioning(") == 1


def test_sliding_distinct_users_fanout_shape(spark, sf_dir):
    # bounded fan-out (Generate/explode over the deduped user-day
    # table) + broadcast semi-join with the observed-day set — no
    # range join, no cartesian
    plan = plan_of(spark, sf_dir, "events_sliding_distinct_users")
    assert "Generate" in plan and "explode(" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_editdistance_blocked_no_cartesian(spark, sf_dir):
    # candidate pairs come from an equi self-join on the block key;
    # the levenshtein confirm is a post-join filter
    plan = plan_of(spark, sf_dir, "dedup_editdistance_blocked")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_twap_single_exchange(spark, sf_dir):
    # the lead() window and the (event_type, day) aggregate must ride
    # one exchange
    plan = plan_of(spark, sf_dir, "events_twap")
    assert plan.count("hashpartitioning(") <= 1


def test_bounce_rate_two_exchanges(spark, sf_dir):
    # sessionization (lag + running sum + per-session rollup) rides
    # the user_id exchange; only the tiny per-day aggregate adds one
    plan = plan_of(spark, sf_dir, "events_bounce_rate")
    assert plan.count("hashpartitioning(") <= 2


def test_decile_buckets_no_global_window(spark, sf_dir):
    # decile assignment must be the broadcast-boundaries shape — no
    # NTILE/Window at all, and the boundary table joins as broadcast
    plan = plan_of(spark, sf_dir, "agg_spend_decile_buckets")
    assert "Window" not in plan
    assert not re.search(r"\bntile\(", plan)  # \b: percentile( contains "ntile("
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_wow_growth_window_after_agg(spark, sf_dir):
    # the lag window must run over the aggregated weekly series: the
    # Window's child chain contains the HashAggregate, so raw facts
    # are never sorted
    plan = plan_of(spark, sf_dir, "events_wow_growth")
    tree = plan.split("\n\n")[0]
    # the formatted tree prints top-down (last operator first), so the
    # Window node must appear ABOVE (= smaller index than) the weekly
    # HashAggregate it consumes
    assert tree.index("Window") < tree.index("HashAggregate")


def test_time_to_convert_equi_probe(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "events_time_to_convert")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_keyset_pagination_pushes_cursor_and_takeordered(spark, sf_dir):
    """Keyset pagination must push the cursor predicate into the scan
    (PushedFilters on o_totalprice) and plan TakeOrderedAndProject —
    the whole point vs OFFSET, which cannot push anything."""
    plan = plan_of(spark, sf_dir, "sort_keyset_pagination")
    assert "TakeOrderedAndProject" in plan
    assert "LessThan(o_totalprice" in plan  # cursor reached the parquet scan


def test_not_in_plans_null_aware_anti_join(spark, sf_dir):
    """NOT IN over a nullable subquery must plan the NULL-AWARE anti
    join — a plain LeftAnti would return wrong (non-empty) results
    the moment a NULL lands in the subquery. The executed plan's
    BroadcastHashJoin carries the isNullAwareAntiJoin=true flag as a
    trailing 'true' argument."""
    from bigdata_project_spark.registry import REGISTRY

    df = REGISTRY["sub_not_in_null_aware"].fn(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    import re

    assert re.search(r"BroadcastHashJoin .*LeftAnti, BuildRight, true", executed)


def test_asof_nearest_joinless_single_exchange(spark, sf_dir):
    # the nearest as-of must be the two-sweep union form: ONE user_id
    # exchange feeding both window sorts (asc + desc), zero joins —
    # never a per-purchase candidate join or range join
    plan = plan_of(spark, sf_dir, "join_asof_nearest")
    assert "Join" not in plan
    # exactly two hash exchanges: the click tie-dedup aggregate keyed
    # (user_id, t_us), and the user_id window feed shared by BOTH
    # sweep directions (asc + desc sort ride one exchange)
    assert plan.count("hashpartitioning(") == 2


def test_skipping_audit_is_two_rollups(spark, sf_dir):
    # both layout passes are aggregate-only: no join against raw
    # events, no window, no cartesian — zone stats then a 1-row agg
    plan = plan_of(spark, sf_dir, "lake_skipping_effectiveness")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_normalized_plan_ignores_broadcast_build_side(spark, sf_dir):
    """AQE may build a broadcast join on either side from one run to
    the next; the normalized final plan reads the same for both."""
    from pyspark.sql import functions as F

    a = spark.range(10).withColumnRenamed("id", "k")
    b = spark.range(10).withColumnRenamed("id", "k2")
    plans = []
    for df in (F.broadcast(a).join(b, a.k == b.k2), a.join(F.broadcast(b), a.k == b.k2)):
        df.collect()
        plans.append(df._jdf.queryExecution().executedPlan().toString())
    assert "BuildLeft" in plans[0] and "BuildRight" in plans[1]
    assert normalize(plans[0], sf_dir) == normalize(plans[1], sf_dir)


def test_normalized_plan_orders_expand_groups():
    """The distinct groups of an Expand, and the gid each gets, follow
    expression-id hashes; the normalized plan puts them in one order,
    also when a group column is a struct with commas inside."""
    first = (
        "Aggregate [count(a#1) FILTER (WHERE (gid#5 = 1)) AS na#7L, count(b#2) FILTER (WHERE (gid#5 = 2)) AS nb#8L]\n"
        "+- Aggregate [a#3, b#4, gid#5], [a#3, b#4, gid#5]\n"
        "   +- Expand [[a#1, null, 1], [null, b#2, 2]], [a#3, b#4, gid#5]"
    )
    swapped = (
        "Aggregate [count(a#1) FILTER (WHERE (gid#5 = 2)) AS na#7L, count(b#2) FILTER (WHERE (gid#5 = 1)) AS nb#8L]\n"
        "+- Aggregate [b#4, a#3, gid#5], [b#4, a#3, gid#5]\n"
        "   +- Expand [[b#2, null, 1], [null, a#1, 2]], [b#4, a#3, gid#5]"
    )
    for a_in, a_out in (("a#1", "a#3"), ("struct(p, p#1, q, q#9)", "struct(p, q)#3")):
        x, y = (plan.replace("a#1", a_in).replace("a#3", a_out) for plan in (first, swapped))
        assert normalize(x, "/data") == normalize(y, "/data")
        assert normalize(x, "/data") != normalize(x.replace("count(b#2)", "sum(b#2)"), "/data")
