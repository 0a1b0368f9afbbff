"""Connected-components algorithms: min-label propagation vs
large-star/small-star contraction.

The star algorithm is the documented extreme-scale swap-in (O(log^2 n)
rounds at any diameter); these tests prove it computes EXACTLY the
same labels as the shipped min-label loop on randomized graphs, and
demonstrate the failure mode it exists for: a chain-shaped component
longer than the iteration cap, where min-label correctly REFUSES
(raises rather than returning unconverged labels) and star converges
in a handful of rounds.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _labels(df):
    return {r["id"]: r["component"] for r in df.collect()}


def _brute_components(n_nodes, edge_list):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id labels
    comp = {}
    for v in range(n_nodes):
        r = find(v)
        comp.setdefault(r, []).append(v)
    out = {}
    for members in comp.values():
        m = min(members)
        for v in members:
            out[v] = m
    return out


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)), min_size=0, max_size=40
    )
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_star_equals_minlabel_equals_bruteforce(spark, edges):
    from bigdata_project_spark.operators.clustering import (
        connected_components,
        connected_components_star,
    )

    n = 25
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edge_rows = [(a, b) for a, b in edges if a != b] or [(0, 0)]
    edf = spark.createDataFrame(edge_rows, "doc_a long, doc_b long").filter(
        "doc_a <> doc_b"
    )
    want = _brute_components(n, [(a, b) for a, b in edge_rows if a != b])
    # max_iter=30 >= 24, the worst-case min-label eccentricity for a
    # 25-node drawn graph (a near-path ordering would exceed the
    # default 20-round cap and raise — a rare hypothesis flake)
    got_min = _labels(connected_components(nodes, edf, max_iter=30))
    got_star = _labels(connected_components_star(nodes, edf))
    assert got_min == want
    assert got_star == want


def test_chain_component_star_converges_where_minlabel_refuses(spark):
    """A 300-node path graph: diameter 299 >> the 20-round default
    cap. Min-label must raise (never return unconverged labels);
    star must converge within the same cap and label every node 0."""
    from bigdata_project_spark.operators.clustering import (
        connected_components,
        connected_components_star,
    )

    n = 300
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, chain, max_iter=20)
    labels = _labels(connected_components_star(nodes, chain, max_iter=20))
    assert labels == {i: 0 for i in range(n)}


def test_auto_converges_on_chain(spark):
    """connected_components_auto is what the production consumers
    (dedup_cluster_components, dedup_semantic_cells) call since round
    9: on the adversarial 300-node chain the min-label probe hits its
    cap and the star fallback must deliver the correct labels — the
    consumer never sees the refusal min-label alone would raise."""
    from bigdata_project_spark.operators.clustering import connected_components_auto

    n = 300
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    labels = _labels(connected_components_auto(nodes, chain))
    assert labels == {i: 0 for i in range(n)}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)), min_size=0, max_size=40
    )
)
@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
def test_auto_equals_bruteforce(spark, edges):
    from bigdata_project_spark.operators.clustering import connected_components_auto

    n = 25
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edge_rows = [(a, b) for a, b in edges if a != b] or [(0, 0)]
    edf = spark.createDataFrame(edge_rows, "doc_a long, doc_b long").filter(
        "doc_a <> doc_b"
    )
    want = _brute_components(n, [(a, b) for a, b in edge_rows if a != b])
    assert _labels(connected_components_auto(nodes, edf)) == want


@pytest.mark.parametrize(
    "name",
    [
        "dedup_cluster_components",
        "corpus_clean_pipeline",
        "split_cluster_aware_assign",
        "corpus_keep_best_per_cluster",
        "dedup_semantic_cells",
        "multimodal_dhash_dedup_keeper",
        "multimodal_audio_dedup_keeper",
    ],
)
def test_consumers_stay_green_through_star_fallback(spark, sf_dir, name, monkeypatch):
    """Force every min-label probe to refuse (as a chain-shaped edge
    set would) and run the production consumers end-to-end against
    their unchanged DuckDB oracles: the star fallback must produce
    value-identical output, proving the algorithm swap changes cost,
    never results."""
    from bigdata_project_spark.operators import clustering
    from bigdata_project_spark.registry import REGISTRY, all_queries
    from tests.oracle import compare, duckdb_con

    def _refuse(nodes, edges, max_iter=None):
        raise clustering.CCNotConverged("forced: min-label probe cap (test twin)")

    monkeypatch.setattr(clustering, "connected_components", _refuse)
    con = duckdb_con(sf_dir)
    try:
        df = all_queries()[name](spark, sf_dir)
        res = compare(name, df, con, REGISTRY[name].oracle)
        assert res.ok, res.detail
    finally:
        con.close()


def test_star_fallback_labels_read_barriered_state_only(spark, sf_dir, monkeypatch):
    """On the star fallback the labels must read only barriered state,
    as the min-label labels do: a label join over the caller's
    unbarriered edge endpoints would make the consumer's final action
    replay the whole shingle/pair/Jaccard build after its caches are
    released. Pinned on the consumer's optimized plan: the same
    parquet relations and joins as on the min-label path."""
    from bigdata_project_spark.operators import clustering
    from bigdata_project_spark.registry import all_queries

    def shape(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("Relation ["), plan.count("Join ")

    def _refuse(nodes, edges, max_iter=None):
        raise clustering.CCNotConverged("forced: min-label probe cap (test twin)")

    name = "dedup_cluster_components"
    min_label = shape(all_queries()[name](spark, sf_dir))
    monkeypatch.setattr(clustering, "connected_components", _refuse)
    assert shape(all_queries()[name](spark, sf_dir)) == min_label


def test_auto_does_not_mask_unrelated_runtime_error(spark, monkeypatch):
    """Advisor r9: auto must catch ONLY CCNotConverged. An unrelated
    RuntimeError raised inside the min-label probe (OOM, a broken
    plan, a checkpoint failure) must propagate, not silently trigger
    a full star-contraction rerun that masks the original failure."""
    from bigdata_project_spark.operators import clustering

    def _boom(nodes, edges, max_iter=None):
        raise RuntimeError("unrelated failure (test twin)")

    monkeypatch.setattr(clustering, "connected_components", _boom)
    nodes = spark.createDataFrame([(0,), (1,)], "id long")
    edges = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="unrelated failure"):
        clustering.connected_components_auto(nodes, edges)


def test_auto_refuses_explicit_zero_max_iter(spark):
    """Advisor r9: an explicit max_iter=0 must not make the probe
    run zero min-label rounds and RETURN its unconverged identity
    labels (n_changed never set). Auto clamps the probe to >= 1
    round, so an unconverged path now REFUSES (CCNotConverged from
    the star fallback, which honors the caller's 0-round cap) —
    never silently wrong labels."""
    from bigdata_project_spark.operators.clustering import (
        CCNotConverged,
        connected_components_auto,
    )

    nodes = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    edges = spark.createDataFrame([(0, 1), (1, 2)], "doc_a long, doc_b long")
    with pytest.raises(CCNotConverged):
        connected_components_auto(nodes, edges, max_iter=0)
    # and a sane explicit cap still converges through the same path
    labels = _labels(connected_components_auto(nodes, edges, max_iter=5))
    assert labels == {0: 0, 1: 0, 2: 0}
