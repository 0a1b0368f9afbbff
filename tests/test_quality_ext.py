"""Corpus-quality batch (operators/quality_ext.py + MaxSim).

The DuckDB oracles prove output correctness at every scale factor;
these tests pin the properties the oracles can't see:
(1) surprisal respects its information-theoretic bounds (each token
    costs between 0 and floor(log2(N)) bits — a broken bin()/div
    would break the bound before it broke the oracle on THIS corpus);
(2) keep-best election invariants: exactly one keeper per component,
    and the keeper strictly dominates (max tokens, min-id tiebreak);
(3) MaxSim dominates the ALIGNED sub-cosine sum on the same pair —
    max over candidate aspects can only match or beat the identity
    pairing, term by term (the reason late interaction exists);
(4) MaxSim's top-k compiles to WindowGroupLimit (per-task top-k
    before the single rank exchange).
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from bigdata_project_spark.registry import REGISTRY, _ensure_loaded, all_queries

_ensure_loaded()


def test_surprisal_respects_entropy_bounds(spark, sf_dir):
    qs = all_queries()
    s = qs["text_unigram_surprisal"](spark, sf_dir)
    n_total = (
        s.agg(F.sum("n_tokens").alias("n")).first()["n"]
    )  # surprisal joins every occurrence, so this IS the corpus total
    max_bits_per_token = n_total.bit_length() - 1  # floor(log2(N))
    bad = s.filter(
        (F.col("total_bits") < 0)
        | (F.col("total_bits") > F.col("n_tokens") * max_bits_per_token)
    ).count()
    assert bad == 0
    # a corpus with any repeated token must cost strictly less than
    # the uniform-code worst case somewhere
    assert s.filter(F.col("total_bits") < F.col("n_tokens") * max_bits_per_token).count() > 0


def test_keep_best_election_invariants(spark, sf_dir):
    qs = all_queries()
    kb = qs["corpus_keep_best_per_cluster"](spark, sf_dir)
    per_comp = kb.groupBy("component").agg(
        F.sum("is_kept").alias("n_keepers"),
        F.max("n_tokens").alias("max_tokens"),
        F.min(F.when(F.col("is_kept") == 1, F.col("doc_id"))).alias("keeper_id"),
        F.max(F.when(F.col("is_kept") == 1, F.col("n_tokens"))).alias("keeper_tokens"),
        F.min("keeper_doc_id").alias("declared_min"),
        F.max("keeper_doc_id").alias("declared_max"),
    )
    assert per_comp.filter(F.col("n_keepers") != 1).count() == 0
    assert per_comp.filter(F.col("keeper_tokens") != F.col("max_tokens")).count() == 0
    # every member row declares the same keeper, and it is the kept row
    assert per_comp.filter(F.col("declared_min") != F.col("declared_max")).count() == 0
    assert per_comp.filter(F.col("keeper_id") != F.col("declared_min")).count() == 0
    # tiebreak: no cluster member with the same token count and a
    # smaller id than its keeper
    tied = kb.alias("m").join(
        kb.filter(F.col("is_kept") == 1).select(
            F.col("component").alias("kc"),
            F.col("n_tokens").alias("kt"),
            F.col("doc_id").alias("kid"),
        ),
        F.col("m.component") == F.col("kc"),
    )
    assert (
        tied.filter((F.col("m.n_tokens") == F.col("kt")) & (F.col("m.doc_id") < F.col("kid"))).count()
        == 0
    )


def test_maxsim_dominates_aligned_subcosine_sum(spark, sf_dir):
    """maxsim >= sum_i cos(q_i, d_i): each MaxSim term maxes over all
    four candidate aspects, so it can only match or beat the identity
    pairing — term by term, hence in the sum. This is the theorem
    that makes late interaction a refinement (never a degradation) of
    aspect-aligned scoring; a small epsilon absorbs rounding."""
    from bigdata_project_spark.operators.similarity import _MS_SUB, _QUERY_IDS, _sub
    from bigdata_project_spark.operators.vecmath import dot
    from bigdata_project_spark.tables import load

    qs = all_queries()
    ms = qs["sim_maxsim_multivector"](spark, sf_dir).select("query_id", "vec_id", "maxsim")

    emb = load(spark, sf_dir, "embeddings")
    for i in range(_MS_SUB):
        emb = emb.withColumn(f"sn{i}", dot(_sub("embedding", i), _sub("embedding", i)))
    q = emb.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        *[F.col(f"sn{i}").alias(f"q_sn{i}") for i in range(_MS_SUB)],
    )
    aligned_terms = [
        dot(_sub("q_embedding", i), _sub("embedding", i))
        / (F.sqrt(F.col(f"q_sn{i}")) * F.sqrt(F.col(f"sn{i}")))
        for i in range(_MS_SUB)
    ]
    aligned = aligned_terms[0]
    for t in aligned_terms[1:]:
        aligned = aligned + t
    pairs = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", aligned.alias("aligned")
    )
    j = ms.join(pairs, ["query_id", "vec_id"])
    assert j.count() == ms.count()  # every top-k row got its aligned twin
    assert j.filter(F.col("maxsim") < F.col("aligned") - 1e-9).count() == 0


def test_maxsim_topk_compiles_to_window_group_limit(spark, sf_dir):
    df = REGISTRY["sim_maxsim_multivector"].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_gate_emits_one_row_per_document_even_for_short_docs(spark, sf_dir, tmp_path):
    """The gate's contract is total: EVERY document gets exactly one
    row. The members restrict their domains (repetition needs a
    bigram, passage share needs a 10-token chunk, Gopher needs >= 1
    word), so a corpus with short docs exercises the left-join
    defaults: too-short-for-a-bigram => not_repetitive, too-short-
    for-a-chunk => dup_ok, zero words => gopher_ok = 0 and keep = 0."""
    import pyspark.sql.types as T

    rows = [
        (0, "the of and is a value part with more than three words here", "en", "src0"),
        (1, "tiny doc", "en", "src0"),          # no 10-token chunk, has a bigram
        (2, "word", "en", "src0"),              # no bigram at all
        (3, "  ", "en", "src0"),           # whitespace-only: zero words
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    docs = spark.createDataFrame(
        [(i, t, lang, src) for i, t, lang, src in rows], schema
    ).withColumn("n_chars", F.length("text"))
    corpus_dir = str(tmp_path / "shortcorpus")
    docs.coalesce(1).write.parquet(f"{corpus_dir}/documents.parquet")

    out = {
        r["doc_id"]: r
        for r in all_queries()["corpus_quality_gate"](spark, corpus_dir).collect()
    }
    assert sorted(out) == [0, 1, 2, 3]  # total: one row per document
    # short docs default to vacuous passes on the signals they LACK;
    # doc 1 has exactly one bigram (100% of its bigrams), so the
    # repetition member genuinely flags it — the gate must REFLECT
    # the member, not soften it
    assert out[1]["dup_ok"] == 1 and out[1]["not_repetitive"] == 0
    assert out[2]["dup_ok"] == 1 and out[2]["not_repetitive"] == 1
    # zero-word doc FAILS the structural rules and carries no surprisal
    assert out[3]["gopher_ok"] == 0 and out[3]["keep"] == 0
    assert out[3]["bits_per_token"] is None
    # the 12-word stopword-heavy doc passes everything
    assert out[0]["keep"] == 1


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """recall_multi >= recall_single per query, as a theorem: the
    multiprobe candidate set is a superset of the banded one, and a
    true global top-5 neighbor present in any candidate set can only
    be outranked by other global top-5 neighbors — so adding
    candidates never evicts a hit from the top-5."""
    rows = all_queries()["sim_recall_multiprobe"](spark, sf_dir).collect()
    assert rows, "recall eval returned no query rows"
    for r in rows:
        assert r["n_hits_multi"] >= r["n_hits_single"], r


def test_winsorized_mean_bounds_and_degenerate_identity(spark, sf_dir):
    """Two invariants the oracle can't distinguish from luck:
    (1) the winsorized mean lies within [lo_cut, hi_cut] — clamping
        bounds the estimate by construction;
    (2) for a group with n < 20 the trim count g = (n*5) div 100 is
        0, so the winsorized mean equals the PLAIN integer-cents mean
        (the estimator degrades gracefully, it doesn't distort small
        groups)."""
    from bigdata_project_spark.tables import load

    out = {r["o_orderstatus"]: r for r in all_queries()["agg_winsorized_mean"](spark, sf_dir).collect()}
    assert out
    for st, r in out.items():
        assert r["lo_cut"] <= r["winsorized_mean"] <= r["hi_cut"], r
    small = [st for st, r in out.items() if r["n_orders"] < 20]
    if small:
        o = load(spark, sf_dir, "orders")
        plain = {
            r["o_orderstatus"]: r["m"]
            for r in o.groupBy("o_orderstatus")
            .agg(
                (
                    F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("decimal(38,0)")).cast("double")
                    / F.count("*")
                    / F.lit(100.0)
                ).alias("m")
            )
            .collect()
        }
        for st in small:
            assert out[st]["winsorized_mean"] == plain[st], st


def test_split_leakage_flags_cross_split_neardup(spark, tmp_path_factory):
    """An engineered near-dup pair whose md5-bucket split assignments
    differ must surface with is_leak = 1; a same-split near-dup pair
    must surface with is_leak = 0."""
    import hashlib

    from bigdata_project_spark.registry import all_queries

    def bucket(doc_id: int) -> int:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        return int(h[:2], 16)

    def split(doc_id: int) -> str:
        b = bucket(doc_id)
        return "train" if b < 230 else ("val" if b < 243 else "test")

    train_ids = [i for i in range(400) if split(i) == "train"]
    test_ids = [i for i in range(400) if split(i) == "test"]
    assert len(train_ids) >= 2 and test_ids, "bucket thresholds drifted"
    a, b, c = train_ids[0], test_ids[0], train_ids[1]
    dup_text = " ".join(f"tok{i}" for i in range(12))  # >= one 5-gram shared
    other = " ".join(f"zz{i}" for i in range(12))
    rows = [
        (a, dup_text),
        (b, dup_text),  # near-dup of a, in ANOTHER split -> leak
        (c, other),
    ] + [(train_ids[2 + i], f"solo{i} " * 8) for i in range(3)]
    d = tmp_path_factory.mktemp("leak")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    got = {
        (r["doc_a"], r["doc_b"]): r["is_leak"]
        for r in all_queries()["qa_split_leakage"](spark, str(d)).collect()
    }
    assert got[(min(a, b), max(a, b))] == 1

    # same-split dup -> reported, not a leak
    d2 = tmp_path_factory.mktemp("noleak")
    spark.createDataFrame(
        [(a, dup_text, "en", "s", 1), (c, dup_text, "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{d2}/documents.parquet")
    got2 = {
        (r["doc_a"], r["doc_b"]): r["is_leak"]
        for r in all_queries()["qa_split_leakage"](spark, str(d2)).collect()
    }
    assert got2[(min(a, c), max(a, c))] == 0


def test_stratified_gate_keeps_top_half_per_language(spark, sf_dir):
    """Per language: kept share <= 1/2 exactly, and every kept doc has
    >= tokens than every dropped doc (threshold semantics, ties at
    the boundary excluded)."""
    from collections import defaultdict

    from bigdata_project_spark.registry import all_queries

    rows = all_queries()["corpus_quality_stratified_gate"](spark, sf_dir).collect()
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append(r)
    for lang, rs in by_lang.items():
        kept = [r["n_tokens"] for r in rs if r["keep"] == 1]
        dropped = [r["n_tokens"] for r in rs if r["keep"] == 0]
        assert 2 * len(kept) <= len(rs), lang
        if kept and dropped:
            # strict threshold: no dropped doc has more tokens than a kept one
            assert max(dropped) <= min(kept), lang


def test_cluster_aware_split_has_zero_leaks(spark, sf_dir):
    """The enforce side must actually close the audit: after
    cluster-aware assignment, every near-dup edge's endpoints share
    split_release (zero leaks by construction), while the naive
    per-document split leaks on the same corpus (non-vacuity)."""
    from bigdata_project_spark.registry import all_queries

    qs = all_queries()
    release = {
        r["doc_id"]: r for r in qs["split_cluster_aware_assign"](spark, sf_dir).collect()
    }
    edges = qs["qa_split_leakage"](spark, sf_dir).collect()
    assert any(e["is_leak"] == 1 for e in edges), "corpus has no naive leaks — vacuous"
    for e in edges:
        assert (
            release[e["doc_a"]]["split_release"] == release[e["doc_b"]]["split_release"]
        ), (e["doc_a"], e["doc_b"])
    moved = sum(r["moved"] for r in release.values())
    assert moved > 0  # the naive leaks forced real moves
