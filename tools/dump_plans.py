#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans for the queries whose
plan shape IS the scale argument. Run from the repo root:

    python tools/dump_plans.py [sf_dir]
    python tools/dump_plans.py sf_dir --normalized DIR

Each section pairs the executed plan (AQE final) with the one-line
claim tests/test_plans.py asserts about it, so the document cannot
drift silently from the code: re-running the script re-reads both.

`--normalized DIR` writes, instead of PLANS.md, each showcase query's
optimized logical plan (`<query>.optimized.txt`) and AQE-final plan
(`<query>.final.txt`) through `normalize`, which removes what moves
between runs of the same code. Two commits' directories are then
compared with `diff -r`.
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# (query, the plan property the shape demonstrates)
SHOWCASE = [
    ("agg_pricing_summary", "Filter pushdown + column pruning at the scan; partial -> final HashAggregate; whole-stage codegen spans the hot path."),
    ("join_q5_regional_revenue", "Small dims broadcast (no fact shuffle for them); fact-fact join shuffles once on the key."),
    ("join_asof_purchase_click", "As-of join as union + last_value: ONE shuffle on the entity key, no quadratic range-join candidate set."),
    ("dedup_minhash_lsh", "Candidate generation is an equi-join on (band, band_key); shingles/signatures persisted once, exact Jaccard verifies candidates only."),
    ("sim_ann_lsh_banded", "Single equi-join on (band, bucket) — no cartesian, no nested loop; bucket explode persisted across the self-join."),
    ("contamination_ngram_overlap", "Benchmark shingle set broadcasts; the corpus side is a map-side hash probe, never shuffled for screening."),
    ("pack_sequences_global", "Global prefix sum with no global sort: per-source windows + a #sources-row SinglePartition offset table broadcast back."),
    ("quality_repetition_filter", "Per-doc statistic as pure array algebra: projection over the scan, no aggregation exchange at all."),
    ("dedup_incremental_merge", "Batch hash set broadcasts; corpus probed map-side — ingestion is O(batch), not O(corpus)."),
    ("tpch_q21_waiting_suppliers", "Correlated EXISTS/NOT EXISTS pair decorrelated into ONE per-(order,supplier) aggregate — single lineitem pass, ReusedExchange for the per-order rollup."),
    ("index_inverted_postings", "df-only pass filters head tokens BEFORE any posting list is collected; kept-token set broadcasts into the pairs side."),
    ("events_top_paths", "Per-group sort/truncate inside the (user, day) aggregate — no global Window over raw events; top-20 is TakeOrderedAndProject."),
    ("window_session_numbering", "lag and the running sum share ONE Exchange + Sort; stable session ids from a cumulative flag sum."),
    ("qa_column_profile", "Multiple exact count-distincts in ONE scan via Expand; stack() unpivots the 1-row aggregate."),
    ("agg_heavy_hitters_exact", "Misra-Gries candidates from a map-only MapInPandas pass; both verification joins broadcast — the raw token stream is never shuffled."),
    ("sort_pareto_frontier", "Skyline with no NOT-EXISTS self-join: group-max collapse, per-bucket windows, broadcast cross-bucket carry."),
    ("join_geo_grid_radius", "Radius self-join as a 9-cell-neighborhood EQUI join over exploded integer cells — no cross join, exact haversine as residual."),
    ("join_interval_overlap_binned", "Temporal overlap as slice-binned equi-join (fixed 2x fan-out) + exact interval residual — no BroadcastNestedLoopJoin."),
    ("sim_knn_quantized_int8", "Quantization is a pure map in the scan stage; queries broadcast; exact integer dot products; top-k via per-query Window rank."),
    ("events_peak_concurrency", "Two-stage sliced sweep: the curve's sort is partitioned by (event_type, slice) — never by the 5-value type alone — with per-slice carry-ins as a broadcast join."),
    ("sim_maxsim_multivector", "MaxSim late interaction keeps the brute-force scan shape: broadcast query set, 16 codegen'd sub-cosines per row, WindowGroupLimit top-k — quality costs CPU, not a new shuffle."),
    ("corpus_quality_gate", "Three doc_id-keyed quality signals AND-composed by joining on the shared key; members' scans stay map-side/token-keyed as in their standalone plans."),
    ("corpus_paragraph_dedup_rewrite", "Remove-side rewrite: passage text travels exactly twice (explode out, doc_id-keyed reassemble); the duplicate-spread aggregate + join-back carry 128-bit hashes only."),
    ("dedup_semantic_cells", "SemDeDup: broadcast centroid assignment, pairwise cosine confined to the derived (label, sub-bucket) cell equi-join, components exchange (id,label) pairs, keeper max(struct) rides the component exchange."),
    ("corpus_dsir_importance", "DSIR weights: two map-side-combined token tf aggregates, occurrence->tf join on token (no vocab broadcast), 1-row totals broadcast, integer order-free doc rollup."),
    ("silver_quarantine_split", "Quarantine gate: one codegen CASE in the scan stage; low-cardinality (type, reason) grouped count, map-side combined — no extra exchange on the silver path."),
    ("dedup_selfrepeat_substring_spans", "Self-repeat spans (operators/spans.py): tokens are lowercased once per doc and stride-1 window hashing stays map-side; the qualifier adds ONE map-side-combined (hash, doc) aggregate that SHRINKS the hash-keyed HAVING's input; island merge on a single doc_id-keyed window."),
    ("corpus_k_anonymize_release", "k-anonymize release: three low-cardinality grouped counts broadcast back onto one pruned fact scan; the re-audit is a <=131-row broadcast — the fact table never shuffles on a high-cardinality key."),
    ("retrieval_hybrid_rrf", "Hybrid RRF: each leg collapses to TakeOrderedAndProject top-50 BEFORE any rank window (the global row_number sorts 50 rows, never the corpus); the fusion is a 50x50 full-outer join; both leg stats are 1-row broadcasts."),
    ("corpus_quality_stratified_gate", "Stratified gate: documents are never sorted — per-(lang, n_tokens) counts aggregate map-side, the cumulative threshold runs over that tiny table, and the keep bit comes back as a BroadcastHashJoin on (lang, n_tokens)."),
    ("multimodal_dhash_neardup", "dHash image near-dup: both Arrow codec stages are map-side (image bytes never shuffle — only 16-char signatures move); candidate pairs are the pigeonhole (block, key) equi-join shared with SimHash; exact popcount verifies."),
    ("sim_knn_pq_rerank", "PQ two-stage search: codebook and per-query LUT broadcast; the ADC scan reads 4-byte codes through ONE pivoted-map LUT broadcast join (the r13 _lut_pivot collapse of the former four-join chain); only the top-100 shortlist rows fetch raw vectors for the exact rerank."),
    ("sim_ivfpq_search", "Composed IVF-PQ: the centroid assign is a fixed-k broadcast cross; candidates reach the LUT joins only through the probed-cell equi-join — scan fraction and byte compression multiply."),
    ("crawl_url_canonical_dedup", "URL canonicalization is one codegen'd projection over the scan (regexp/split/array_sort); the keeper is a single hash-partitioned window on the canonical key."),
    ("pack_sequences_ffd", "FFD packing: bounded per-(source, block) Arrow groups fit in parallel; the only exchange is the hash partition on the group key — no global sort of documents."),
    ("join_bloom_prefilter", "Bloom prefilter: the filter folds to ONE row and broadcasts (BroadcastNestedLoopJoin); the probe side sees no key-shuffle before its pass-bit filter (the only exchange is the conditional load_spread parallelism gate, a no-op on multi-split lakes) — only bloom survivors enter the verify join."),
    ("corpus_lm_perplexity_gate", "Bigram LM gate: context/pair counts are map-side-combined token-keyed aggregates; the event->model join shuffles on (w1, w2) with NO vocabulary broadcast; the median comes from a tiny value-distribution table broadcast back."),
    ("sim_ivfpq_residual", "Residual IVF-PQ: the 10-row unit-space centroid table broadcasts, residuals are one map-side zip_with in the scan stage; the per-(query, cell) LUT pivots to a 64-entry map and joins ONCE (a single BroadcastHashJoin replaced the r12 four-chained-join stage) — candidates still reach ADC only via the probed-cell equi-join."),
    ("corpus_nb_quality_classifier", "Bernoulli NB: the df aggregate is map-side-combined on token; the distinct-occurrence -> weight join shuffles on token (NO vocab broadcast); the absence constant and class prior are 1-row broadcasts — the trained artifact is a relation, not driver state."),
    ("agg_quantile_sketch_audit", "Quantile sketch audit: the sketch build is one <= 976-group map-side-combinable aggregate; the exact side aggregates per distinct VALUE and windows over that compressed table (the fact table is never sorted); decile probes ride a 9-row broadcast."),
    ("corpus_lm_backoff_gate", "Stupid Backoff: pair/context/unigram model tables each join the event stream on their own key — no vocabulary broadcast anywhere; seen-vs-backoff is a codegen CASE over the joined row, not a second corpus pass."),
    ("sim_ivf_trained_cells", "Trained coarse quantizer: each Lloyd iteration is one broadcast of the k x 64 centroid table against the corpus scan (map-side assign, BNLJ on a fixed-k table) plus one map-side-combinable groupBy(cid, dim); seed selection is TakeOrdered, never a global window."),
    ("sim_ivfpq_trained", "Fully-trained IVF-PQ: trained centroids and residual codebook both broadcast; encode is map-side over the corpus scan; candidates reach the pivoted-map ADC only via the probed-cell equi-join — training the coarse stage changed WHERE vectors land, not what shuffles."),
    ("multimodal_audio_neardup", "Audio fingerprint pairs: both Arrow stages (WAV synthesize, decode+fingerprint) are map-side — audio bytes never shuffle; only (doc_id, 16-char) rows reach the pigeonhole block equi-join."),
    ("retrieval_ndcg_at_k", "nDCG eval: every input is an already-reduced k x #queries ranked list; gains/discounts are codegen integer expressions and the ideal-DCG side is a tiny broadcast — the eval adds no corpus-scale stage to its nested systems."),
    ("sim_graph_knn_build", "Graph-ANN build: candidates come from two 16-way sign-bucket equi self-joins (never all-pairs), filtered to canonical src<dst orientation BEFORE the dedup (half the distinct's shuffle) and cosine-scored once per unordered pair, then mirrored — so the round-0 scoring joins, the build's largest, carry half the rows; NN-descent rounds join the degree-capped edge list (N*G rows) against itself and re-score their (non-symmetric) candidate sets in full; per-node top-G is a keyed window over candidates only."),
    ("sim_graph_beam_search", "Beam walk: graph, truth, and walk share ONE persisted normed corpus; the query vectors ride in the <=B*|Q|-row frontier (no per-hop query-table re-join), every hop is one broadcast hash-probe of the frontier against the edge list plus a broadcast scoring join, and lineage checkpoints land every second hop — search cost independent of corpus size given the graph."),
    ("sim_recall_dim_curve", "Matryoshka curve: all three prefix cosines ride ONE corpus scan against the broadcast query set (the extra dims add codegen, not a shuffle); per-(dim,query) rank windows sort bounded candidate sets."),
    ("vocab_unigram_token_count", "Unigram tokenizer: EM runs over the compressed word-frequency relation; the piece-cost table pivots to a single map row that cross-broadcasts onto the vocab, so each Viterbi pass builds its W*L cost array in a map-side projection (no substring fan-out join, no re-grouping exchange); the DP is two aggregate() folds; re-tokenization is a word-keyed join of the doc stream, the BPE billing shape."),
    ("corpus_nb_isotonic_calibration", "Isotonic fit: all corpus-scale work is the nested classifier's; the PAV minimax runs entirely over a <= ~17-row binned table (broadcast theta joins over prefix sums) — the fit costs nothing at any corpus size."),
    ("quality_gopher_full_rules", "Full Gopher gate: one fresh codegen projection of the scan (regexp counts + array filters) joined doc_id-keyed to the base-gate and dupline relations; all three legs co-partition on doc_id, integer-comparison cuts."),
]


# (pattern, replacement) applied in order to every plan line
_NORMALIZE = [
    (re.compile(r"#\d+"), "#"),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\blambda (\w+?)_\d+"), r"lambda \1"),  # PySpark's lambda-name counter
    (re.compile(r"@[0-9a-f]{4,}\b"), "@HASH"),  # Java identity hash codes
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(...)"),
    (re.compile(r"\b(\w*QueryStage) \d+"), r"\1 N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),  # whole-stage codegen ids
    # AQE builds a broadcast join on whichever side's shuffle stage
    # finished first; the broadcast nodes are dropped (_BROADCAST)
    (re.compile(r"\bBuild(Left|Right)\b"), "BuildSide"),
]
_FILE = re.compile(r"file:[^\s,\]]*")
_TREE = re.compile(r"^[ :+-]*")  # the tree-string indentation of a node
_BROADCAST = re.compile(r"BroadcastQueryStage N$|BroadcastExchange ")
_EXPAND = re.compile(r"^(.*\bExpand )(\[\[.*\]\]), (\[[^\[\]]*\])$")


def _canonical_expand(lines: list[str]) -> list[str]:
    """Put a distinct-aggregate Expand into one order. Its distinct
    groups follow expression-id hashes, so their order, and the `gid`
    number each gets, move with how many expressions the session
    created before. The group columns are sorted by name and the groups
    renumbered in sorted order, in the Expand and in every `gid = N`
    and key list that refers to them; the projection lists are then
    sorted. A plan whose Expands differ is left as is."""
    expands = {i: m for i, m in ((i, _EXPAND.match(line)) for i, line in enumerate(lines)) if m}
    if len({m.group(2, 3) for m in expands.values()}) != 1:
        return lines
    m = next(iter(expands.values()))
    projections = [p.split(", ") for p in re.findall(r"\[([^\[\]]*)\]", m.group(2))]
    output = m.group(3)[1:-1].split(", ")
    k = next((j for j, c in enumerate(output) if c.startswith("gid#")), None)
    if k is None or any(len(p) != len(output) for p in projections):
        return lines
    order = sorted(range(k), key=lambda j: output[j])
    groups = sorted([p[j] for j in order] for p in projections if p[k] != "0")
    renumber = {p[k]: str(groups.index([p[j] for j in order]) + 1) for p in projections if p[k] != "0"}

    def permute(p: list[str]) -> str:
        return ", ".join([p[j] for j in order] + [renumber.get(p[k], p[k])] + p[k + 1:])

    expand = f"[{', '.join(sorted(f'[{permute(p)}]' for p in projections))}], [{permute(output)}]"
    # a key list that starts with the group columns, each maybe under an
    # alias (a partial aggregate normalizes a double key)
    keys = re.compile(
        r"(?<=[\[(])" + ", ".join(rf"((?:[^,\[\]]* AS )?{re.escape(c)})" for c in output[:k]) + r"(?=[,\])])"
    )
    gid = re.compile(r"\bgid# = (\d+)")

    def rewrite(line: str) -> str:
        line = keys.sub(lambda m: ", ".join(m.group(j + 1) for j in order), line)
        return gid.sub(lambda m: "gid# = " + renumber.get(m.group(1), m.group(1)), line)

    return [expands[i].group(1) + expand if i in expands else rewrite(line) for i, line in enumerate(lines)]


def normalize(plan: str, sf_dir: str) -> str:
    """A plan string with run-dependent detail removed: expression,
    plan, query-stage and codegen-stage ids, lambda-name suffixes,
    identity hash codes, statistics, paths (a file under `sf_dir`
    keeps its name), the build side of broadcast joins together with
    the broadcast nodes, and the order of a distinct-aggregate
    Expand's groups. The result lists the plan's nodes one per line in
    tree order, without the tree's indentation: a broadcast node moves
    its subtree one level down, and AQE indents the plans nested in a
    cached relation by the depth of the stage that reads it."""
    sf = os.path.abspath(sf_dir).rstrip("/") + "/"

    def path(m: re.Match) -> str:
        p = m.group(0)[len("file:"):]
        return "file:<sf>/" + p[len(sf):] if p.startswith(sf) else "file:<path>"

    lines = []
    for line in plan.rstrip().split("\n"):
        line = _TREE.sub("", _FILE.sub(path, line))
        for pattern, repl in _NORMALIZE:
            line = pattern.sub(repl, line)
        if not _BROADCAST.match(line):
            lines.append(line)
    return "\n".join(_canonical_expand(lines)) + "\n"


def dump_normalized(spark, sf_dir: str, out_dir: str) -> None:
    from bigdata_project_spark.caching import release_cached
    from bigdata_project_spark.registry import REGISTRY

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, _claim in SHOWCASE:
        df = REGISTRY[name].fn(spark, sf_dir)
        df.collect()  # AQE finalizes the executed plan
        qe = df._jdf.queryExecution()
        for kind, plan in (("optimized", qe.optimizedPlan()), ("final", qe.executedPlan())):
            (out / f"{name}.{kind}.txt").write_text(normalize(plan.toString(), sf_dir))
        release_cached(spark, sweep_all=True)
    print(f"{out_dir}: {len(SHOWCASE)} queries, optimized and final plans")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    normalized = sys.argv[3] if sys.argv[2:3] == ["--normalized"] and len(sys.argv) == 4 else None
    from bigdata_project_spark.caching import release_cached
    from bigdata_project_spark.registry import REGISTRY, _ensure_loaded
    from bigdata_project_spark.session import get_spark

    _ensure_loaded()
    spark = get_spark("plans", cpus="8")
    spark.sparkContext.setLogLevel("ERROR")
    if normalized:
        dump_normalized(spark, sf_dir, normalized)
        spark.stop()
        return

    out = [
        "# PLANS — physical-plan evidence for the scale claims",
        "",
        f"Auto-generated by `tools/dump_plans.py` at {sf_dir} (AQE final",
        "plans, after execution). Each section states the property the",
        "plan demonstrates — the same properties `tests/test_plans.py`",
        "asserts, so this file is regenerable evidence, not prose.",
        "",
    ]
    for name, claim in SHOWCASE:
        df = REGISTRY[name].fn(spark, sf_dir)
        df.collect()  # execute THIS queryExecution so AQE finalizes it
        plan = df._jdf.queryExecution().executedPlan().toString()
        release_cached(spark, sweep_all=True)
        lines = plan.rstrip().split("\n")
        # cap pathological sections: plans whose projections embed the
        # generated fold/DP/64-term-chain expressions repeat the same
        # giant strings per operator (vocab_unigram_token_count would
        # print 52k lines alone) — the plan SHAPE (operator tree) is in
        # the head; the elided tail is expression repetition
        if len(lines) > 600:
            lines = (
                lines[:400]
                + [f"... [{len(lines) - 450} lines elided: repeated generated "
                   "expression text; operator tree above is complete "
                   "for the elided span's stages] ..."]
                + lines[-50:]
            )
        out += [f"## {name}", "", claim, "", "```", "\n".join(lines), "```", ""]
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text("\n".join(out))
    print(f"PLANS.md written ({len(SHOWCASE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
