"""Fleet-wide physical-plan audit: invariants asserted over EVERY
registered batch query, not just the per-query showcase tests in
test_plans.py. A new query that silently plans a cartesian product, a
nested-loop join, or a row-at-a-time Python boundary fails here until
it is either fixed or explicitly justified in the whitelist below.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from bigdata_project_spark.caching import release_cached
from bigdata_project_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()

# BroadcastNestedLoopJoin is acceptable ONLY when the build side is
# provably tiny by construction — a scalar/1-row aggregate, a
# fixed-size query/band table, or a deliberate cross join. Every entry
# names its tiny side so the justification is auditable.
BNLJ_WHITELIST: dict[str, str] = {
    "tpch_q11_important_parts": "1-row scalar threshold (sum * fraction) joined to groups",
    "tpch_q22_windfall_customers": "1-row avg-balance scalar subquery",
    "events_rfm_segments": "1-row percentile-boundary struct broadcast",
    "agg_share_of_total": "1-row grand-total broadcast",
    "agg_spend_decile_buckets": "1-row decile-boundary array broadcast",
    "agg_quantile_sketch_audit": "9-row decile-rank broadcast range-probed into tiny cum tables",
    "agg_heavy_hitters_exact": "1-row total-count broadcast",
    "qa_benford_leading_digit": "1-row total-count broadcast",
    "qa_join_skew_forecast": "1-row predicted-totals broadcast onto the top-5 rows",
    "events_freshness_lag": "1-row global-latest-timestamp broadcast (24h filter + lag)",
    "qa_drift_split_halves": "1-row (t1, t2) totals broadcast",
    "mixture_source_weights": "1-row corpus-total broadcast",
    "index_inverted_postings": "1-row df-cap threshold broadcast",
    "graph_triangle_stats": "1-row edge/wedge-count broadcasts",
    "dedup_lsh_pair_recall": "1-row ground-truth-count broadcast (recall denominator)",
    "sim_recall_at_k": "tiny fixed query set + 1-row recall denominator",
    "sim_recall_ivf2_at_k": "tiny fixed query set + 1-row recall denominator",
    "sim_knn_pq_adc": "fixed 3-query pivoted-LUT broadcast (queries x codes by design)",
    "sim_knn_pq_rerank": "fixed 3-query pivoted-LUT broadcast (queries x codes by design)",
    "sim_recall_pq_at_k": "nested sim_knn_bruteforce's fixed query-set broadcast",
    "sim_recall_pq_rerank_at_k": "nested sim_knn_bruteforce's fixed query-set broadcast",
    "sim_recall_multiprobe": "tiny fixed query set broadcast (brute-force ground-truth side)",
    "sim_ann_ivf_probe": "fixed-k centroid table cross to assign cells",
    "sim_ann_ivf_nprobe2": "fixed-k centroid table cross to assign cells",
    "sim_ivfpq_search": "fixed-k centroid table cross to assign cells",
    "sim_ivfpq_rerank": "fixed-k centroid table cross to assign cells",
    "sim_recall_ivfpq_at_k": "nested centroid cross + brute-force query-set broadcast",
    "sim_recall_ivfpq_rerank_at_k": "nested centroid cross + brute-force query-set broadcast",
    "sim_ivfpq_nprobe2": "fixed-k centroid table cross to assign cells",
    "sim_recall_ivfpq_nprobe2_at_k": "nested centroid cross + brute-force query-set broadcast",
    "sim_ivfpq_residual": "fixed-k centroid table cross to assign cells",
    "sim_recall_ivfpq_residual_at_k": "nested centroid cross + brute-force query-set broadcast",
    "sim_ivfpq_residual_rerank": "fixed-k centroid table cross to assign cells",
    "sim_recall_ivfpq_residual_rerank_at_k": "nested centroid cross + brute-force query-set broadcast",
    "corpus_nb_seed_confusion": "nested NB prior/absence 1-row broadcasts",
    "corpus_nb_calibration": "nested NB prior/absence 1-row broadcasts",
    "corpus_nb_isotonic_calibration": "nested NB 1-row broadcasts + <=17-row PAV minimax theta joins",
    "corpus_nb_calibrated_gate": "nested NB 1-row broadcasts + <=17-row isotonic-table broadcast",
    "corpus_quality_ensemble_cal_gate": "nested NB/isotonic 1-row broadcasts + LM vocab 1-row broadcast",
    "corpus_quality_ensemble_gate": "nested NB prior/absence + LM vocab 1-row broadcasts",
    "retrieval_ndcg_at_k": "nested ANN systems' centroid crosses + BF query-set broadcast",
    "sim_ivf_trained_cells": "fixed-k trained-centroid cross to assign cells (Lloyd)",
    "sim_ivf_trained_search": "fixed-k trained-centroid cross to assign cells (Lloyd)",
    "sim_recall_ivf_trained_at_k": "nested centroid cross + brute-force query-set broadcast",
    "sim_ivfpq_trained": "fixed-k trained-centroid cross to assign cells (Lloyd)",
    "sim_recall_ivfpq_trained_at_k": "nested centroid cross + brute-force query-set broadcast",
    "sim_ivfpq_nprobe_curve": "centroid cross + 3-row nprobe-level range join (np >= arn)",
    "join_bloom_prefilter": "1-row bloom-filter map broadcast onto the probe side",
    "join_bloom_fp_audit": "1-row bloom-filter map broadcast onto the probe side",
    "vocab_bpe_merges": "six 1-row best-pair broadcasts (one per BPE iteration)",
    "vocab_unigram_train": "1-row piece-total and pivoted piece-cost-map broadcasts (one each per EM round)",
    "vocab_unigram_token_count": "1-row piece-total and pivoted piece-cost-map broadcasts (one each per EM round)",
    "vocab_unigram_fertility_by_lang": "1-row piece-total and pivoted piece-cost-map broadcasts (one each per EM round)",
    "vocab_bpe_token_count": "six 1-row best-pair broadcasts (one per BPE iteration)",
    "vocab_bpe_fertility_by_lang": "six 1-row best-pair broadcasts (one per BPE iteration)",
    "corpus_lm_perplexity_buckets": "1-row vocab-size broadcast (shared _lm_cum build)",
    "corpus_source_kl_audit": "1-row global-totals broadcast (code-length denominators)",
    "dedup_semantic_cells": "fixed-k centroid table cross to assign cells",
    "dedup_semantic_incremental": "fixed-k centroid table cross to assign cells",
    "corpus_dsir_importance": "two 1-row model-total broadcasts (code-length denominators)",
    "corpus_nb_quality_classifier": "1-row class-prior + absence-constant broadcasts",
    "corpus_nb_lm_agreement": "nested NB prior/absence + LM vocab 1-row broadcasts",
    "sim_knn_bruteforce": "fixed 5-vector query set broadcast (non-equi by design)",
    "sim_truncated_dim_recall": "the dim curve's fixed 3-query set broadcast (its dim = 16 row) + nested brute-force truth",
    "sim_recall_dim_curve": "fixed 3-query set broadcast (non-equi by design) shared by the three prefix dims + nested brute-force truth",
    # (sim_graph_beam_search's entry-seed non-equi broadcast happens
    # before a localCheckpoint, so its FINAL plan carries no BNLJ and
    # it needs no entry here)
    "sim_recall_graph_at_k": "nested brute-force query-set broadcast (the beam side is checkpoint-truncated)",
    "sim_knn_quantized_int8": "fixed 5-vector query set broadcast (non-equi by design)",
    "sim_maxsim_multivector": "fixed 3-query multi-vector set broadcast (non-equi by design)",
    "multimodal_feature_knn": "fixed tiny query-feature set broadcast",
    "text_bm25_topk": "1-row corpus stats (N, avgdl) broadcast",
    "join_range_price_bands": "fixed band table broadcast — the documented theta-join plan",
    "join_cross_region_status": "deliberate cross join operator (tiny x tiny)",
    "dedup_lsh_band_tuning": "1-row ground-truth-count broadcast onto the 3-config curve",
    "text_unigram_surprisal": "1-row corpus-token-total broadcast (code-length denominator)",
    "corpus_lm_perplexity_gate": "1-row vocab-size broadcast (Laplace denominator)",
    "corpus_lm_backoff_gate": "1-row train-totals broadcast (backoff denominator)",
    "corpus_lm_gate_overlap": "nested gates' 1-row totals broadcasts",
    "corpus_quality_gate": "inherits text_unigram_surprisal's 1-row corpus-total broadcast",
    "join_copurchase_lift": "1-row distinct-order-total broadcast (lift denominator)",
    "corpus_k_anonymize_release": "1-row level-2-total broadcast (record-suppression guard)",
    "retrieval_hybrid_rrf": "1-row BM25 corpus stats + 1-row centroid query vector broadcasts",
}


@pytest.fixture(scope="module")
def batch_plans(spark, sf_dir):
    """Build every non-streaming query's formatted plan once."""
    plans = {}
    for name, spec in REGISTRY.items():
        if "streaming" in spec.tags:
            continue  # streaming queries EXECUTE on build; covered by their own tests
        df = spec.fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plans[name] = buf.getvalue()
        release_cached(spark)
    return plans


def test_no_cartesian_product_anywhere(batch_plans):
    offenders = [n for n, p in batch_plans.items() if "CartesianProduct" in p]
    assert not offenders, f"CartesianProduct in: {offenders}"


def test_nested_loop_joins_all_whitelisted(batch_plans):
    offenders = [
        n
        for n, p in batch_plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in BNLJ_WHITELIST
    ]
    assert not offenders, (
        f"unjustified BroadcastNestedLoopJoin in: {offenders} — "
        "either rewrite as an equi-join or add a justified whitelist entry"
    )


def test_whitelist_has_no_stale_entries(batch_plans):
    stale = [
        n
        for n in BNLJ_WHITELIST
        if n in batch_plans and "BroadcastNestedLoopJoin" not in batch_plans[n]
    ]
    assert not stale, f"whitelist entries no longer needed: {stale}"


def test_no_row_at_a_time_python_boundary(batch_plans):
    """Every Python boundary must be Arrow-batched: pandas_udf /
    mapInPandas / applyInPandas / mapInArrow / Arrow-enabled UDTFs.
    BatchEvalPython (pickle row loop) would be a 10-100x slowdown on
    the hot path at 100 TB."""
    offenders = [n for n, p in batch_plans.items() if "BatchEvalPython" in p]
    assert not offenders, f"row-at-a-time Python eval in: {offenders}"


def test_every_scan_reads_pruned_schema(batch_plans):
    """No query may scan lineitem's full 16-column schema unless it
    genuinely touches most columns — spot the widest ReadSchema as a
    tripwire for accidental select-star plans."""
    import re

    wide = []
    for n, p in batch_plans.items():
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", p):
            ncols = m.group(1).count(":")
            if ncols >= 15:
                wide.append((n, ncols))
    assert not wide, f"suspiciously wide scans (>=15 cols): {wide}"
