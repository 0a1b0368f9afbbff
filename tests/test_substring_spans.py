"""Exact substring spans (operators/spans.py and its four queries).

The oracle gate proves parity on the testbed; this pins the semantics
the grid operators can't have — detection at ARBITRARY offsets — on a
hand-built corpus where the shared run is deliberately misaligned,
plus the island-merge boundary and case-insensitive detection with
original-case output."""

from __future__ import annotations

import duckdb

from tests.oracle import compare


def _words(n, tag):
    return " ".join(f"{tag}{i}" for i in range(n))


def test_misaligned_repeat_found_and_spans_merge(spark, tmp_path_factory):
    from bigdata_project_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    K = 20
    shared = " ".join(f"run{i}" for i in range(30))  # 30-token shared run
    # r1 and r2 are 20-token runs that share one token: back to back
    # (doc 5) their windows start K-1 apart. r3 and r4 share none: back
    # to back (doc 6) their windows start K apart. Doc 7 holds all four
    # apart, so each is a cross-doc repeat.
    t = [f"t{i}" for i in range(39)]
    r1, r2 = " ".join(t[:20]), " ".join(t[19:])
    r3, r4 = _words(20, "u"), _words(20, "v")
    rows = [
        # doc 1: run at offset 0; doc 2: same run at offset 7 — a
        # 10-token grid would see different chunks, stride-1 sees it
        (1, shared + " " + _words(15, "a"), "en", "s0", 0),
        (2, _words(7, "b") + " " + shared + " " + _words(4, "c"), "en", "s1", 0),
        # doc 3: no repeat
        (3, _words(40, "z"), "en", "s2", 0),
        # doc 4: TWO disjoint copies of two different shared runs ->
        # two islands whose covered tokens sum
        (4, shared + " " + _words(25, "d") + " " + shared, "en", "s3", 0),
        (5, " ".join(t) + " " + _words(5, "e"), "en", "s0", 0),
        (6, r3 + " " + r4 + " " + _words(3, "g"), "en", "s1", 0),
        (7, " ".join([r1, _words(5, "f"), r2, _words(5, "h"), r3, _words(5, "k"), r4]), "en", "s2", 0),
        # docs 8 and 9: one 25-token run in different case
        (8, "Pre0 Pre1 Pre2 " + _words(25, "RunA") + " Post0 Post1", "en", "s3", 0),
        (9, _words(25, "RUNA") + " " + _words(4, "q"), "en", "s0", 0),
    ]
    d = tmp_path_factory.mktemp("substr")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    # no run repeats only within its own document, so the self-repeat
    # operator finds exactly the cross-doc spans
    for name in ("dedup_exact_substring_spans", "dedup_selfrepeat_substring_spans"):
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_spans"], r["n_dup_tokens"])
            for r in REGISTRY[name].fn(spark, str(d)).collect()
        }
        # the 30-token run covers exactly 30 tokens in each doc it appears
        # in, wherever it sits (11 overlapping windows merged to 1 span)
        assert got[1] == (45, 1, 30), name
        assert got[2] == (41, 1, 30), name
        assert got[3] == (40, 0, 0), name
        assert got[4] == (85, 2, 60), name
        # hits K-1 apart merge into one 39-token span; hits K apart
        # stay two adjacent 20-token spans
        assert got[5] == (44, 1, 39), name
        assert got[6] == (43, 2, 40), name
        assert got[7] == (95, 4, 80), name
        # detection is case-insensitive
        assert got[8] == (30, 1, 25), name
        assert got[9] == (29, 1, 25), name

    # the rewrite cuts both case variants and keeps the case of the rest
    clean = {
        r["doc_id"]: (r["n_removed"], r["text_clean"])
        for r in REGISTRY["dedup_substring_rewrite"].fn(spark, str(d)).collect()
    }
    assert clean[8] == (25, "Pre0 Pre1 Pre2 Post0 Post1")
    assert clean[9] == (25, "q0 q1 q2 q3")
    assert clean[5] == (39, "e0 e1 e2 e3 e4")

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
        )
        for name in (
            "dedup_exact_substring_spans",
            "dedup_substring_rewrite",
            "dedup_selfrepeat_substring_spans",
            "dedup_selfrepeat_rewrite",
        ):
            spec = REGISTRY[name]
            res = compare(f"{name}_hand_corpus", spec.fn(spark, str(d)), con, spec.oracle)
            assert res.ok, res.detail
    finally:
        con.close()


def test_rewrite_agrees_with_detect_side(spark, sf_dir):
    """dedup_substring_rewrite's n_removed must equal
    dedup_exact_substring_spans' n_dup_tokens per doc (same coverage,
    computed by two different compositions), and untouched docs must
    reassemble to the whitespace-normalized original."""
    from pyspark.sql import functions as F

    from bigdata_project_spark.registry import all_queries
    from bigdata_project_spark.tables import load

    q = all_queries()
    detect = q["dedup_exact_substring_spans"](spark, sf_dir).select(
        "doc_id", "n_dup_tokens"
    )
    rewrite = q["dedup_substring_rewrite"](spark, sf_dir)
    j = rewrite.join(detect, "doc_id")
    assert j.filter(F.col("n_removed") != F.col("n_dup_tokens")).count() == 0
    assert j.agg(F.sum("n_removed")).first()[0] > 0  # non-vacuous

    docs = load(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id",
        F.concat_ws(
            " ", F.array_remove(F.split(F.coalesce("text", F.lit("")), r"\s+"), "")
        ).alias("norm_text"),
    )
    untouched = rewrite.filter(F.col("n_removed") == 0).join(norm, "doc_id")
    assert untouched.count() > 0
    assert untouched.filter(F.col("text_clean") != F.col("norm_text")).count() == 0
