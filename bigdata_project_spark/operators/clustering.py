"""Near-dup clustering + corpus cleaning (the end-to-end dedup story).

Pairwise near-dup detection (dedup_minhash_lsh) finds EDGES; an LLM
training corpus needs CLUSTERS — if A~B and B~C, exactly one of
{A,B,C} survives even though A and C were never compared. That is
connected components over the similarity graph, computed here with
the iterative min-label-propagation algorithm on DataFrames:

    label(v) <- min(label(v), min label of v's neighbors)   until fixpoint

Each iteration is one join + aggregation (all distributed); lineage
is truncated per iteration with caching.barrier so plans don't grow
unboundedly. Iterations ~ graph diameter (tiny for near-dup
clusters); chain-shaped graphs fall back to large-star/small-star
contraction. The fixpoint check is a 1-row count.

`components` (near-dup edges -> per-node component) is the one Spark
substrate every near-dup consumer calls — text, semantic, image and
audio dedup alike — and `sql_components` is its one DuckDB twin, a
recursive CTE computing min-reachable-id: same components,
declaratively, so every consumer still gets the full value-hash gate.
`keep_best` is the shared keep-most-tokens keeper election.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.caching import barrier, free_barrier, tracked_persist
from bigdata_project_spark.operators.dedup import (
    _SQL_SHINGLES,
    _SQL_SHINGLES_CAPPED,
    shingle_df_capped,
    words_col,
)
from bigdata_project_spark.operators.corpus import _SQL_SPLIT_CTE_BODY
from bigdata_project_spark.operators.nearpairs import jaccard, overlap, sql_jaccard, sql_overlap
from bigdata_project_spark.registry import query
from bigdata_project_spark.tables import load

_JACCARD_MIN = 0.05  # candidate-pair edge threshold over word-5-gram Jaccard

# (doc_a, doc_b) edges: shingle-sharing pairs with Jaccard >= threshold,
# the twin of `near_dup_edges`. Candidate generation joins the
# df-CAPPED shingle set (shc): the edge builder feeds the end-to-end
# corpus dedup, so it must not inherit the unbounded hot-shingle
# self-join (one boilerplate shingle in df docs would produce an
# O(df²) bucket at corpus scale).
SQL_EDGES = f"""{sql_overlap("shc")},
    {sql_jaccard("cap_counts")},
    edges AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= {_JACCARD_MIN})"""


def near_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b: the near-dup graph, every pair of
    documents whose df-capped word-5-gram Jaccard is at least
    _JACCARD_MIN.

    The build reads its capped shingles three times (both self-join
    sides and the per-doc counts), so it caches them with
    tracked_persist; caching.release_cached frees them with the
    query's other caches once the result is collected. Callers never
    unpersist them. The edges themselves are lazy: a caller that reads
    them more than once caches them, or what it derives from them."""
    sh = tracked_persist(shingle_df_capped(spark, sf_dir))
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    return jaccard(overlap(sh), counts).filter(F.col("jaccard") >= _JACCARD_MIN).select("doc_a", "doc_b")


class CCNotConverged(RuntimeError):
    """Raised by a connected-components loop that hit its iteration
    cap before reaching a fixpoint. A dedicated type so
    connected_components_auto's probe→star fallback triggers ONLY on
    genuine non-convergence — any other RuntimeError raised inside
    the probe propagates instead of being masked by a silent full
    star-contraction rerun (advisor r9)."""


# Round cap of both loops. Min-label propagation needs about
# graph-diameter rounds; hitting the cap raises rather than returning
# unconverged labels.
_MAX_ITER = 20
# Min-label rounds connected_components_auto spends before concluding
# the graph is chain-shaped. Genuine near-dup clusters are shallow
# (diameter ~2-4: dense clone groups), so 8 rounds is generous.
_PROBE_ITERS = 8


def connected_components_star(nodes: DataFrame, edges: DataFrame, max_iter: int = _MAX_ITER) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris et
    al. 2014, "Connected Components in MapReduce and Beyond"):
    converges in O(log^2 n) rounds REGARDLESS of component diameter —
    the swap-in SCALE.md promises for adversarial chain-shaped
    clusters, where min-label propagation needs diameter rounds
    (tests/test_cc_algorithms.py demonstrates a 300-node chain: the
    default-capped min-label loop raises, this converges in a few
    rounds). Same contract as `connected_components`: (id, component
    = min id in component).

    Per round: large-star hangs every neighbor LARGER than u off
    u's min neighbor (length-bounding), small-star re-hangs the
    smaller-or-equal neighbors (star-forming); both are one grouped
    min + one equi-join on the node key over the current edge set,
    which SHRINKS as components contract. Fixpoint when the edge set
    is stable; at fixpoint edges form stars rooted at component
    minima."""
    # canonical directed form (big -> small), self-loops dropped
    e = (
        edges.selectExpr("greatest(doc_a, doc_b) AS u", "least(doc_a, doc_b) AS v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    converged = False
    for _ in range(max_iter):
        und = e.selectExpr("u AS a", "v AS b").unionByName(
            e.selectExpr("v AS a", "u AS b")
        )
        # large-star: m(a) = min(N(a) + {a}); (b, m) for b > a
        m = und.groupBy("a").agg(F.min("b").alias("_mb")).select(
            "a", F.least(F.col("_mb"), F.col("a")).alias("m")
        )
        large = (
            und.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .selectExpr("b AS u", "m AS v")
        )
        # small-star on large's output: (b, m) for b <= a, plus (a, m)
        und2 = large.selectExpr("u AS a", "v AS b").unionByName(
            large.selectExpr("v AS a", "u AS b")
        )
        m2 = und2.groupBy("a").agg(F.min("b").alias("_mb")).select(
            "a", F.least(F.col("_mb"), F.col("a")).alias("m")
        )
        j = und2.join(m2, "a")
        small = (
            j.filter(F.col("b") <= F.col("a"))
            .selectExpr("b AS u", "m AS v")
            .unionByName(j.selectExpr("a AS u", "m AS v"))
        )
        new_e = (
            small.selectExpr("greatest(u, v) AS u", "least(u, v) AS v")
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        new_e = barrier(new_e, eager=False)
        # stable iff same canonical edge multiset (both are distinct
        # sets, so two anti-join emptiness checks in ONE union job)
        n_diff = (
            new_e.exceptAll(e).selectExpr("1 AS one")
            .unionByName(e.exceptAll(new_e).selectExpr("1 AS one"))
            .count()
        )
        free_barrier(e)
        e = new_e
        if n_diff == 0:
            converged = True
            break
    if not converged:
        free_barrier(e)
        raise CCNotConverged(
            f"connected_components_star did not converge in {max_iter} rounds; raise max_iter"
        )
    # at fixpoint e is a star forest (child -> root); singletons get
    # their own id via the left join
    roots = e.groupBy("u").agg(F.min("v").alias("component")).selectExpr(
        "u AS id", "component"
    )
    # materialized now, while the caller's inputs are still cached, so
    # that the labels read barriered state only (like min-label's) and
    # a later action never replays the build behind `nodes`
    labels = barrier(
        nodes.join(roots, "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        ),
        eager=True,
    )
    free_barrier(e)
    return labels


def connected_components(nodes: DataFrame, edges: DataFrame, max_iter: int = _MAX_ITER) -> DataFrame:
    """Min-label propagation to fixpoint.

    nodes: (id); edges: (doc_a, doc_b) undirected. Returns
    (id, component) where component = min id in the component.

    Iterations ~ component diameter: right for near-dup graphs (tiny
    dense clusters). For adversarial chain-shaped components use
    `connected_components_star` (O(log^2 n) rounds, any diameter)."""
    undirected = edges.selectExpr("doc_a AS src", "doc_b AS dst").unionByName(
        edges.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    labels = ckpt = nodes.select(F.col("id"), F.col("id").alias("component"))
    n_changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            undirected.join(labels, undirected.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce("nbr_component", F.col("component"))).alias("component"),
                (F.coalesce("nbr_component", F.col("component")) < F.col("component")).cast("int").alias("_changed"),
            )
        )
        # LAZY barrier (round 8): the convergence count below is
        # the action that materializes it, so each iteration runs ONE
        # Spark job instead of two (eager-materialize + count). The
        # loop was measured as the dominant cost of every clustering
        # query, and the cost is job overhead, not data.
        new_ckpt = barrier(new_labels, eager=False)
        n_changed = new_ckpt.agg(F.sum("_changed")).first()[0] or 0
        # the new barrier (materialized by the count above) no longer
        # reads the previous one (at scale labels are |V| rows;
        # keeping every iteration would hold diameter × |V|)
        free_barrier(ckpt)
        ckpt = new_ckpt
        labels = ckpt.drop("_changed")
        if n_changed == 0:
            break
    if n_changed:
        # min-label propagation converges in <= graph-diameter iterations;
        # returning silently here would hand back wrong (unconverged)
        # component labels on adversarial chain-shaped clusters.
        # Free the abandoned iteration's blocks first — the caller
        # (connected_components_auto) may retry with the star
        # algorithm, and |V|-row blocks from a dead loop must not
        # outlive the raise.
        free_barrier(ckpt)
        raise CCNotConverged(
            f"connected_components did not converge in {max_iter} iterations "
            f"({n_changed} labels still changing); raise max_iter"
        )
    return labels


def connected_components_auto(nodes: DataFrame, edges: DataFrame, max_iter: int = _MAX_ITER) -> DataFrame:
    """The production connected-components algorithm (round 9):
    min-label propagation probed for _PROBE_ITERS rounds (8 — the
    fewest Spark jobs on the shallow components
    near-dup graphs actually have), falling back to alternating-star
    contraction (O(log^2 n) rounds at ANY diameter, Kiveris et al.
    2014) when the probe cap is hit. Both algorithms return identical
    labels (id, component = min id in component) — property-tested
    against each other and a driver-side union-find in
    tests/test_cc_algorithms.py — so the fallback changes cost, never
    results, and every consumer's oracle is unchanged. The probe's
    abandoned checkpoints are freed inside connected_components
    before it raises, so the fallback starts with a clean block
    store."""
    try:
        # clamp the explicit path too: max_iter=0 would make the probe
        # RETURN its unconverged identity labels (n_changed stays 0)
        # instead of raising (advisor r9)
        return connected_components(nodes, edges, max_iter=max(1, min(max_iter, _PROBE_ITERS)))
    except CCNotConverged:
        return connected_components_star(nodes, edges, max_iter=max_iter)


def components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Near-dup edges -> per-node component: (id, component = min id
    in the node's component) for every row of `nodes` (id), given
    undirected `edges` (doc_a, doc_b, ...). Every near-dup consumer
    clusters through here.

    Labels propagate over the edges' distinct ENDPOINTS only: the
    near-dup graph is sparse, so the fixpoint loop checkpoints ~2|E|
    ids per round instead of the corpus. A node with no edge never
    changes its label in the full loop, so the left join giving it
    its own id yields the same labels. The (doc_a, doc_b) projection
    is cached for the loop's rounds and released before returning;
    the min-label result is a barrier and no longer reads it."""
    edges = edges.select("doc_a", "doc_b").persist()
    try:
        endpoints = (
            edges.select(F.col("doc_a").alias("id"))
            .unionByName(edges.select(F.col("doc_b").alias("id")))
            .distinct()
        )
        labels = connected_components_auto(endpoints, edges)
    finally:
        edges.unpersist()
    return nodes.join(labels, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def with_reach(comp: DataFrame) -> DataFrame:
    """`comp` (id, component) plus component_reach, the size of each
    row's component."""
    sizes = comp.groupBy("component").agg(F.count("*").alias("component_reach"))
    return comp.join(sizes, "component")


def sql_components(table: str, id_col: str) -> str:
    """The DuckDB twin of `components` + `with_reach`, as CTEs over an
    `edges` (doc_a, doc_b) CTE: `comp` ({id_col}, component,
    component_reach) for every row of `table`, by a recursive
    min-reachable-id closure. Needs `WITH RECURSIVE`."""
    return f"""
    und AS (
        SELECT doc_a AS src, doc_b AS dst FROM edges
        UNION ALL SELECT doc_b, doc_a FROM edges
    ),
    reach(root, node) AS (
        SELECT {id_col}, {id_col} FROM {table}
        UNION
        SELECT r.root, u.dst FROM reach r JOIN und u ON u.src = r.node
    ),
    comp AS (
        SELECT root AS {id_col}, MIN(node) AS component,
               COUNT(DISTINCT node) AS component_reach
        FROM reach GROUP BY root
    )"""


def keep_best(j: DataFrame, id_col: str) -> DataFrame:
    """(component, keeper_{id_col}): per component of `j` (component,
    n_tokens, {id_col}), the member with the most tokens, lowest id on
    a tie. One max(struct(n_tokens, -id)) aggregate holds a 2-field
    running max per component: no window sort, no member list."""
    return j.groupBy("component").agg(
        F.max(F.struct(F.col("n_tokens"), (-F.col(id_col)).alias("neg_id"))).alias("best")
    ).select("component", (-F.col("best.neg_id")).alias(f"keeper_{id_col}"))


@query(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    {_SQL_SHINGLES_CAPPED},
    {SQL_EDGES},
    {sql_components("documents", "doc_id")}
    SELECT doc_id, component, component_reach FROM comp
    """,
    tags=("dedup", "llm", "clustering", "iterative"),
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    Jaccard similarity graph via iterative min-label propagation.
    component = min doc_id reachable (the canonical keeper id);
    component_reach = cluster size seen from each doc."""
    docs = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    comp = components(docs, near_dup_edges(spark, sf_dir))
    return with_reach(comp).select(F.col("id").alias("doc_id"), "component", "component_reach")


@query(
    "corpus_clean_pipeline",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    {_SQL_SHINGLES_CAPPED},
    {SQL_EDGES},
    {sql_components("documents", "doc_id")},
    quality AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS n_tokens
        FROM documents
    )
    SELECT d.doc_id, c.component,
           CAST(d.doc_id = c.component AS INT) AS is_keeper,
           CAST(q.n_tokens >= 20 AS INT) AS passes_quality,
           CAST(d.doc_id = c.component AND q.n_tokens >= 20 AS INT) AS in_clean_corpus
    FROM documents d
    JOIN comp c ON c.doc_id = d.doc_id
    JOIN quality q ON q.doc_id = d.doc_id
    """,
    tags=("dedup", "llm", "pipeline"),
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-cleaning decision: per document, its
    near-dup cluster, whether it is the cluster keeper (min id), and
    whether it passes the quality gate (token count) — the full
    'dedup + filter' pass a training-data pipeline applies before
    tokenization. in_clean_corpus is the final keep bit."""
    docs = load(spark, sf_dir, "documents")
    comp = dedup_cluster_components(spark, sf_dir).select("doc_id", "component")
    n_tokens = F.size(words_col(F.col("text")))
    quality = docs.select("doc_id", (n_tokens >= 20).cast("int").alias("passes_quality"))
    return (
        docs.select("doc_id")
        .join(comp, "doc_id")
        .join(quality, "doc_id")
        .select(
            "doc_id",
            "component",
            (F.col("doc_id") == F.col("component")).cast("int").alias("is_keeper"),
            "passes_quality",
            ((F.col("doc_id") == F.col("component")) & (F.col("passes_quality") == 1)).cast("int").alias(
                "in_clean_corpus"
            ),
        )
    )


_PR_SCALE = 1_000_000  # rank fixed-point scale
_PR_ITERS = 3


def _sql_pagerank_iter(i: int) -> str:
    """One integer-PageRank round as a CTE pair: contributions =
    rank div out_degree along each directed edge, then
    new_rank = 0.15 + 0.85 * sum(in-contributions), all in scaled
    integer arithmetic (div truncates identically in both engines)."""
    return f"""
    contrib{i} AS (
        SELECT u.dst AS node, SUM(r{i}.rank_s // d.out_deg) AS in_sum
        FROM und u
        JOIN rank{i} r{i} ON r{i}.node = u.src
        JOIN degree d ON d.node = u.src
        GROUP BY u.dst
    ),
    rank{i + 1} AS (
        SELECT r.node,
               {_PR_SCALE * 15 // 100} + (85 * COALESCE(c.in_sum, 0)) // 100 AS rank_s
        FROM rank{i} r LEFT JOIN contrib{i} c ON c.node = r.node
    )"""


@query(
    "graph_pagerank_neardup",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    {_SQL_SHINGLES_CAPPED},
    {SQL_EDGES},
    und AS (
        SELECT doc_a AS src, doc_b AS dst FROM edges
        UNION ALL SELECT doc_b, doc_a FROM edges
    ),
    degree AS (SELECT src AS node, COUNT(*) AS out_deg FROM und GROUP BY src),
    rank0 AS (SELECT doc_id AS node, {_PR_SCALE} AS rank_s FROM documents),
    {",".join(_sql_pagerank_iter(i) for i in range(_PR_ITERS))}
    SELECT node AS doc_id, CAST(rank_s AS BIGINT) AS rank_scaled
    FROM rank{_PR_ITERS}
    """,
    tags=("graph", "llm", "iterative", "pagerank"),
)
def graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank (3 unrolled iterations, damping 0.85) over the
    near-dup similarity graph — centrality identifies template hubs: a
    document connected to many near-dups of each other is boilerplate
    gravity, a better dedup keeper/drop signal than pair counts alone.

    Two deliberate design points:
    - FIXED iteration count, lazily unrolled: unlike the fixpoint loop
      in connected_components (driver actions per round), 3 rounds
      compose into ONE lazy plan — each round is a join + aggregate
      re-using the und/degree partitioning, and the whole thing is
      declarative, so the oracle is plain chained CTEs.
    - INTEGER fixed-point arithmetic (rank x 1e6, div truncation):
      float PageRank sums in engine/partition-dependent order and
      diverges in last-ulp; scaled-integer contributions sum exactly
      in any order, so both engines produce identical ranks.
    """
    docs = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    edges = tracked_persist(near_dup_edges(spark, sf_dir))
    und = tracked_persist(
        edges.selectExpr("doc_a AS src", "doc_b AS dst").unionByName(
            edges.selectExpr("doc_b AS src", "doc_a AS dst")
        )
    )
    degree = und.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("out_deg"))
    rank = docs.withColumn("rank_s", F.lit(_PR_SCALE).cast("long"))
    base = F.lit(_PR_SCALE * 15 // 100).cast("long")
    for _ in range(_PR_ITERS):
        contrib = (
            und.join(rank.withColumnRenamed("node", "src"), "src")
            .join(degree.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("rank_s div out_deg")).alias("in_sum"))
        )
        rank = (
            rank.select("node")
            .join(contrib, "node", "left")
            .select(
                "node",
                (base + F.expr("(85 * coalesce(in_sum, 0)) div 100")).alias("rank_s"),
            )
        )
    return rank.select(F.col("node").alias("doc_id"), F.col("rank_s").cast("long").alias("rank_scaled"))


@query(
    "graph_triangle_stats",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    {_SQL_SHINGLES_CAPPED},
    {SQL_EDGES},
    und AS (
        SELECT doc_a AS src, doc_b AS dst FROM edges
        UNION ALL SELECT doc_b, doc_a FROM edges
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM und GROUP BY src),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM edges ab
        JOIN edges bc ON ab.doc_b = bc.doc_a
        JOIN edges ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b
    )
    SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
           (SELECT COUNT(*) FROM deg) AS n_connected_nodes,
           (SELECT SUM(d * (d - 1) / 2) FROM deg) AS n_wedges,
           n_triangles,
           CASE WHEN (SELECT SUM(d * (d - 1) / 2) FROM deg) > 0
                THEN 3.0 * n_triangles / (SELECT SUM(d * (d - 1) / 2) FROM deg)
                ELSE 0.0 END AS clustering_coefficient
    FROM tri
    """,
    tags=("graph", "llm", "clustering"),
)
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup similarity graph: edge count,
    connected-node count, wedge count, triangle count, and the global
    clustering coefficient (3 x triangles / wedges) — the standard
    density diagnostic for whether near-dup clusters are cliques
    (true duplicates) or chains (template drift).

    Scale: triangles enumerate via two self-joins of the ORIENTED
    edge list (doc_a < doc_b), so each triangle is counted exactly
    once with no distinct pass. Both joins key on a single node
    column — ordinary shuffle-hash joins, no cartesian — and the edge
    list itself is pre-bounded by the shingle df cap, which bounds
    the maximum degree and therefore the join fan-out. Wedge counts
    are exact integer arithmetic; the coefficient is one double
    division (engine-identical)."""
    edges = tracked_persist(near_dup_edges(spark, sf_dir))
    und = edges.select(F.col("doc_a").alias("src")).unionAll(
        edges.select(F.col("doc_b").alias("src"))
    )
    deg = und.groupBy("src").agg(F.count("*").alias("d"))
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    node_wedge = deg.agg(
        F.count("*").alias("n_connected_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("double").alias("n_wedges"),
    )
    ab, bc, ac = edges.alias("ab"), edges.alias("bc"), edges.alias("ac")
    tri = (
        ab.join(bc, F.col("ab.doc_b") == F.col("bc.doc_a"))
        .join(
            ac,
            (F.col("ac.doc_a") == F.col("ab.doc_a")) & (F.col("ac.doc_b") == F.col("bc.doc_b")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        tri.join(F.broadcast(n_edges))
        .join(F.broadcast(node_wedge))
        .select(
            "n_edges",
            "n_connected_nodes",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coefficient"),
        )
    )


@query(
    "split_cluster_aware_assign",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    {_SQL_SHINGLES_CAPPED},
    {SQL_EDGES},
    {sql_components("documents", "doc_id")},
    sp AS ({_SQL_SPLIT_CTE_BODY})
    SELECT c.doc_id, c.component,
           sd.split AS split_doc,
           sc.split AS split_release,
           CAST(sd.split <> sc.split AS INT) AS moved
    FROM comp c
    JOIN sp sd ON sd.doc_id = c.doc_id
    JOIN sp sc ON sc.doc_id = c.component
    """,
    tags=("qa", "llm", "split", "clustering", "leakage"),
)
def split_cluster_aware_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENFORCE side of `qa_split_leakage` (the audit -> act
    pattern of the k-anonymity pair): assign splits by near-dup
    CLUSTER, not by document — every member inherits the hash-split
    of its component's canonical keeper (the min doc_id, whose hash
    bucket IS deterministic from the component label), so a near-dup
    pair can never straddle train/eval by construction. Output per
    doc: component, the document's own hash split, the release split
    it actually gets, and a moved bit (the documents a naive split
    would have leaked).

    Scale: one near-dup component build (the shared `components`
    substrate — (id, label) pairs only)
    plus one scan-side split expression evaluated on the component
    label; no join wider than the component build itself."""
    from bigdata_project_spark.operators.corpus import _split_bucket, _TRAIN_LT, _VAL_LT

    docs = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    comp = components(docs, near_dup_edges(spark, sf_dir))

    def split_expr(col: str):
        bucket = F.expr(_split_bucket("STRING", col=col))
        return (
            F.when(bucket < _TRAIN_LT, "train")
            .when(bucket < _VAL_LT, "val")
            .otherwise("test")
        )

    return comp.select(
        F.col("id").alias("doc_id"),
        "component",
        split_expr("id").alias("split_doc"),
        split_expr("component").alias("split_release"),
        (split_expr("id") != split_expr("component")).cast("int").alias("moved"),
    )
