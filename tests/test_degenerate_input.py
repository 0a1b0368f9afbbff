"""Degenerate-input gate: the full registry on ZERO-ROW tables.

Empty input is the sharpest cross-engine divergence probe — global
vs grouped aggregates (1 row vs 0), rollup/cube grand-total rows,
scalar subqueries feeding cross joins, COALESCE defaults, window
frames — and a bug of exactly this class shipped in round 5
(`events_ab_test_zflag`: Spark's inner cross-join of two 1-row
variant aggregates returned 0 rows while the oracle's
scalar-subquery form returned 1 row of NULLs when a variant was
empty; found by the round-6 advisor, fixed via conditional
aggregation over the 2-row rollup). This gate runs every registered
query AND its DuckDB oracle over a schema-identical zero-row
testbed and requires the same answer from both engines, so the next
degenerate-case divergence is a local red, not an advisor finding.

Scale note: this is pure semantics hygiene — no plan on real data
changes — but it is what lets an operator library be trusted inside
a 1000-table pipeline where *some* intermediate genuinely is empty
(a filter that matched nothing, a day with no events).
"""

from __future__ import annotations

import pytest

from bigdata_project_spark.registry import REGISTRY, _ensure_loaded, all_queries

from tests.oracle import compare, duckdb_con

_ensure_loaded()


def _tools_module(name: str):
    import importlib.util
    import pathlib

    path = pathlib.Path(__file__).resolve().parent.parent / "tools" / f"{name}.py"
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory, sf_dir) -> str:
    """Zero-row parquet twin of the testbed (schema from the suite's
    sf_dir), built by the same code as the standalone auditor so the
    gate and the tool cannot drift."""
    dst = tmp_path_factory.mktemp("empty_sf")
    _tools_module("verify_all").build_empty_testbed(src=sf_dir, dst=str(dst))
    return str(dst)


def _sweep(spark, sf_dir: str) -> list[str]:
    from bigdata_project_spark.caching import release_cached

    qs = all_queries()
    con = duckdb_con(sf_dir)
    bad: list[str] = []
    try:
        for name, spec in REGISTRY.items():
            try:
                df = qs[name](spark, sf_dir)
                if spec.oracle is None:
                    df.collect()  # rows-only queries: crash check
                    continue
                res = compare(name, df, con, spec.oracle)
                if not res.ok:
                    bad.append(
                        f"{name}: spark={res.spark_rows} oracle={res.oracle_rows} {res.detail[:160]}"
                    )
            except Exception as e:  # noqa: BLE001
                bad.append(f"{name}: {type(e).__name__}: {str(e)[:160]}")
            finally:
                # 341 queries x 6 twin sweeps in ONE session: without
                # per-query release the tracked persists/checkpoints
                # accumulate for the whole run (the combined -m sweep
                # run wedged py4j under that load in round 12; each
                # sweep passes alone). The plan-audit fixture does the
                # same after every plan build.
                release_cached(spark)
    finally:
        con.close()
    return bad


@pytest.mark.sweep
def test_every_query_agrees_with_oracle_on_empty_input(spark, empty_sf_dir):
    bad = _sweep(spark, empty_sf_dir)
    assert not bad, "zero-row divergences:\n" + "\n".join(bad)


@pytest.fixture(scope="module")
def null_sf_dir(tmp_path_factory, sf_dir) -> str:
    """Twin of the suite's sf_dir with deterministic NULLs in payload
    columns (never keys / ordering columns / event-time — see
    tools/verify_all.py for the injection map and rationale)."""
    dst = tmp_path_factory.mktemp("null_sf")
    _tools_module("verify_all").build_null_testbed(src=sf_dir, dst=str(dst))
    return str(dst)


@pytest.mark.sweep
def test_every_query_agrees_with_oracle_on_null_payloads(spark, null_sf_dir):
    """The driver testbed has ZERO nulls in any column, so the 270
    oracle matches prove nothing about null handling. This gate found
    8 real defects on first run: 3 Python-worker crashes (bytes(None)
    in the multimodal decode UDF, text.lower() on None in the
    tokenizer UDTF), a NaN seeding `best` in the stateful max-jump
    (NaN then poisons every later comparison), vacuously-undominated
    NULL rows in the Pareto skyline, DuckDB LEAST() silently skipping
    NULL args in the quality score, a null-poisoned map_filter count,
    and a COALESCE swallowing NULL input in the regexp family."""
    bad = _sweep(spark, null_sf_dir)
    assert not bad, "null-input divergences:\n" + "\n".join(bad)


@pytest.fixture(scope="module")
def nonfinite_sf_dir(tmp_path_factory, sf_dir) -> str:
    """Twin of the suite's sf_dir with NaN / +Inf / -Inf injected into
    events.value (deterministic by event_id hash, ~3%/2%/2%). The
    hazard qa_nonfinite_values gates on: DECIMAL-routed exact sums
    cannot represent non-finite doubles (SCALE.md "Non-finite
    doubles")."""
    import duckdb

    from bigdata_project_spark.tables import TABLES

    dst = tmp_path_factory.mktemp("nonfinite_sf")
    con = duckdb.connect()
    try:
        for t in TABLES:
            if t != "events":
                con.execute(
                    f"COPY (SELECT * FROM '{sf_dir}/{t}.parquet') TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
                )
        con.execute(f"""
            COPY (
                SELECT * REPLACE (
                    CASE
                        WHEN hash(CAST(event_id AS VARCHAR) || 'nf') % 100 < 3 THEN 'NaN'::DOUBLE
                        WHEN hash(CAST(event_id AS VARCHAR) || 'nf') % 100 < 5 THEN 'Infinity'::DOUBLE
                        WHEN hash(CAST(event_id AS VARCHAR) || 'nf') % 100 < 7 THEN '-Infinity'::DOUBLE
                        ELSE value
                    END AS value
                ) FROM '{sf_dir}/events.parquet'
            ) TO '{dst}/events.parquet' (FORMAT PARQUET)
        """)
    finally:
        con.close()
    return str(dst)


@pytest.mark.sweep
def test_nonfinite_gate_catches_then_quarantine_restores(spark, nonfinite_sf_dir, tmp_path_factory):
    """The round-6 NaN/Inf probe showed 18 DECIMAL-routed aggregates
    hard-error in BOTH engines on a single NaN in events.value; the
    documented production posture is gate (qa_nonfinite_values) ->
    quarantine -> exact-sum tier. This test exercises that posture
    end-to-end on an injected twin (round-7 advisor ask): the gate
    agrees with its oracle AND counts every injected row; the
    exact-sum tier genuinely errors on unquarantined input (the
    fail-loudly contract — no silent nanvl); and after dropping
    exactly the rows the gate flags, the same aggregate is
    oracle-green again."""
    import duckdb

    from bigdata_project_spark.registry import REGISTRY, all_queries
    from bigdata_project_spark.tables import TABLES

    qs = all_queries()

    # 1. the gate: oracle-green on the twin, and non-vacuously so
    con = duckdb_con(nonfinite_sf_dir)
    try:
        res = compare(
            "qa_nonfinite_values",
            qs["qa_nonfinite_values"](spark, nonfinite_sf_dir),
            con,
            REGISTRY["qa_nonfinite_values"].oracle,
        )
        assert res.ok, res.detail
    finally:
        con.close()
    flagged = {
        r["column_name"]: (r["n_nan"], r["n_posinf"], r["n_neginf"])
        for r in qs["qa_nonfinite_values"](spark, nonfinite_sf_dir).collect()
        if r["table_name"] == "events"
    }
    n_nan, n_posinf, n_neginf = flagged["value"]
    assert n_nan > 0 and n_posinf > 0 and n_neginf > 0  # injection non-vacuous

    # 2. fail-loudly: a DECIMAL-routed exact sum over the poisoned
    # column must error, not silently corrupt totals
    with pytest.raises(Exception):
        qs["events_tumbling_hourly"](spark, nonfinite_sf_dir).collect()

    # 3. quarantine exactly what the gate flags -> tier is green again
    qdst = tmp_path_factory.mktemp("quarantined_sf")
    con = duckdb.connect()
    try:
        for t in TABLES:
            src_where = " WHERE isfinite(value) OR value IS NULL" if t == "events" else ""
            con.execute(
                f"COPY (SELECT * FROM '{nonfinite_sf_dir}/{t}.parquet'{src_where}) "
                f"TO '{qdst}/{t}.parquet' (FORMAT PARQUET)"
            )
        n_dropped = con.sql(
            f"SELECT (SELECT COUNT(*) FROM '{nonfinite_sf_dir}/events.parquet') - "
            f"(SELECT COUNT(*) FROM '{qdst}/events.parquet')"
        ).fetchone()[0]
    finally:
        con.close()
    assert n_dropped == n_nan + n_posinf + n_neginf  # gate counts == quarantined rows
    con = duckdb_con(str(qdst))
    try:
        res = compare(
            "events_tumbling_hourly",
            qs["events_tumbling_hourly"](spark, str(qdst)),
            con,
            REGISTRY["events_tumbling_hourly"].oracle,
        )
        assert res.ok, res.detail
    finally:
        con.close()


def test_finite_guard_unit_contract(spark):
    """Unit pin of exact._finite_or_error via dsum/dcast: raises on
    NaN/+Inf/-Inf, passes finite values and NULLs through (NULLs are
    in-contract everywhere; only non-finite is poison), and accepts
    integer inputs (isnan implicit-casts) so dcast can guard
    already-integer columns uniformly."""
    from pyspark.sql import functions as F

    from bigdata_project_spark.exact import dcast, dsum

    ok = spark.createDataFrame([(1.5,), (None,), (2.25,)], "v double")
    assert ok.agg(dsum("v").alias("s")).collect()[0]["s"] == 3.75

    ints = spark.createDataFrame([(3,), (4,)], "v int")
    assert ints.select(dcast("v").alias("d")).agg(
        F.sum("d").cast("double").alias("s")
    ).collect()[0]["s"] == 7.0

    for poison in (float("nan"), float("inf"), float("-inf")):
        bad = spark.createDataFrame([(1.0,), (poison,)], "v double")
        with pytest.raises(Exception, match="non-finite double"):
            bad.agg(dsum("v").alias("s")).collect()


@pytest.fixture(scope="module")
def negzero_sf_dir(tmp_path_factory, sf_dir) -> str:
    """Twin with IEEE negative zeros: ~3% of events.value replaced by
    -0.0, and HALF of lineitem's exact-0.0 l_discount / l_tax values
    bit-flipped to -0.0 (numerically identical input, so any
    divergence is a pure signed-zero semantics bug). -0.0 is absent
    from the generated testbed but routine in real data (rounding of
    small negatives, float subtraction), and the two engines differ in
    WHERE they normalize it (group keys, min/max, string casts) — a
    stringifying hasher sees '-0.0' != '0.0', so emissions must be
    normalized identically on both sides."""
    import duckdb

    from bigdata_project_spark.tables import TABLES

    dst = tmp_path_factory.mktemp("negzero_sf")
    con = duckdb.connect()
    try:
        for t in TABLES:
            if t in ("events", "lineitem"):
                continue
            con.execute(
                f"COPY (SELECT * FROM '{sf_dir}/{t}.parquet') TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
            )
        con.execute(f"""
            COPY (
                SELECT * REPLACE (
                    CASE WHEN hash(CAST(event_id AS VARCHAR) || 'nz') % 100 < 3
                         THEN '-0.0'::DOUBLE ELSE value END AS value
                ) FROM '{sf_dir}/events.parquet'
            ) TO '{dst}/events.parquet' (FORMAT PARQUET)
        """)
        con.execute(f"""
            COPY (
                SELECT * REPLACE (
                    CASE WHEN l_discount = 0.0
                          AND hash(CAST(l_orderkey AS VARCHAR) || CAST(l_linenumber AS VARCHAR)) % 2 = 0
                         THEN '-0.0'::DOUBLE ELSE l_discount END AS l_discount,
                    CASE WHEN l_tax = 0.0
                          AND hash(CAST(l_orderkey AS VARCHAR) || CAST(l_linenumber AS VARCHAR)) % 2 = 1
                         THEN '-0.0'::DOUBLE ELSE l_tax END AS l_tax
                ) FROM '{sf_dir}/lineitem.parquet'
            ) TO '{dst}/lineitem.parquet' (FORMAT PARQUET)
        """)
        n_nz = con.sql(
            f"SELECT count(*) FROM '{dst}/events.parquet' WHERE value = 0.0 AND signbit(value)"
        ).fetchone()[0]
        assert n_nz > 0, "negative-zero injection is vacuous"
    finally:
        con.close()
    return str(dst)


@pytest.mark.sweep
def test_every_query_agrees_with_oracle_on_negative_zeros(spark, negzero_sf_dir):
    """Full-registry sweep on the signed-zero twin, under the
    bit-exact float comparator (tests/oracle.py canonicalizes floats
    via repr, so '-0.0' vs '0.0' is a mismatch exactly as it would be
    for a stringifying driver hasher)."""
    bad = _sweep(spark, negzero_sf_dir)
    assert not bad, "signed-zero divergences:\n" + "\n".join(bad)


# engine-agreeing unicode repertoire (probed round 7): Vietnamese
# diacritics, CJK, emoji ZWJ sequences, NBSP, zero-width space,
# combining marks, curly punctuation, a long multibyte token. The
# KNOWN-DIVERGENT repertoire (Java full case mapping vs utf8proc
# simple folding; byte-based oracle levenshtein) is deliberately
# excluded here and pinned in test_known_unicode_divergences below.
_UNI_SUFFIX = (
    " Việt-Nam 日本語テキスト "
    "\U0001f469‍\U0001f469‍\U0001f467 café naïve"
    "​“trích dẫn” – é… "
    + "ký" * 24
)


@pytest.fixture(scope="module")
def unicode_sf_dir(tmp_path_factory, sf_dir) -> str:
    """Twin with multilingual text: ~10% of documents get a unicode
    suffix (appended, so the ASCII 32-char prefix window of the
    edit-distance blocker is untouched — the oracle's levenshtein is
    byte-based, see test_known_unicode_divergences). Everything
    downstream of text — tokenizers, shingles, minhash, n-gram
    jaccard, quality metrics, langid, surprisal, chunking — must
    treat multibyte input identically in both engines."""
    import duckdb

    from bigdata_project_spark.tables import TABLES

    dst = tmp_path_factory.mktemp("unicode_sf")
    con = duckdb.connect()
    try:
        for t in TABLES:
            if t == "documents":
                continue
            con.execute(
                f"COPY (SELECT * FROM '{sf_dir}/{t}.parquet') TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
            )
        con.execute(
            f"""
            COPY (
                SELECT * REPLACE (
                    CASE WHEN hash(CAST(doc_id AS VARCHAR) || 'uni') % 10 = 0
                         THEN text || ? ELSE text END AS text
                ) FROM '{sf_dir}/documents.parquet'
            ) TO '{dst}/documents.parquet' (FORMAT PARQUET)
            """,
            [_UNI_SUFFIX],
        )
        n = con.sql(f"SELECT count(*) FROM '{dst}/documents.parquet' WHERE text LIKE '%café%'").fetchone()[0]
        assert n > 0, "unicode injection is vacuous"
    finally:
        con.close()
    return str(dst)


@pytest.mark.sweep
def test_every_query_agrees_with_oracle_on_unicode_text(spark, unicode_sf_dir):
    """Full-registry sweep on the multilingual twin: the generated
    testbed is ASCII-only, so oracle green there proves nothing about
    multibyte text — the corpus reality at 100 TB web scale."""
    bad = _sweep(spark, unicode_sf_dir)
    assert not bad, "unicode-text divergences:\n" + "\n".join(bad)


def test_known_unicode_divergences(spark):
    """Pin the cross-engine unicode divergences discovered in round 7
    so drift in either engine is detected, and the input contract
    stays documented in one place:

    - CASE MAPPING: Spark uses Java's full, context-aware case
      mapping; DuckDB (utf8proc) uses simple 1:1 folding. Divergent
      inputs: upper('ß') SS vs ẞ, upper('ﬁ') FI vs
      unchanged ligature, lower('İ') i+combining-dot vs plain i,
      lower of final-position 'Σ' ς vs σ. Production
      contract: NFKC-casefold multilingual corpora at the bronze ->
      silver boundary (the lakehouse-standard posture) before
      engine-portable lower()/upper() comparisons.
    - LEVENSHTEIN: Spark counts codepoints (the correct string-metric
      semantics, and what ships); DuckDB's levenshtein counts BYTES,
      so the edit-distance oracle is only faithful on ASCII prefixes
      (the testbed contract; see dedup_editdistance_blocked, whose
      32-char block prefix stays ASCII under the unicode twin).
    - VERTICAL TAB \\x0B: Java's regex \\s includes \\x0B; RE2's (and
      the explicit [ \\t\\n\\f\\r] class the UDTF tokenizer uses) does
      not. So Spark's F.split(text, r'\\s+') splits on \\x0B while
      every RE2 oracle keeps it inside the token (ADVICE r7). The
      whitespace contract for engine-portable tokenization is the
      explicit ASCII class; \\x0B-bearing text is out-of-contract for
      the \\s+ query family, pinned here so drift in either engine is
      caught.
    """
    import duckdb

    row = spark.sql(
        "SELECT upper('ß') AS ub, lower('İ') AS li, "
        "lower('ΑΣ') AS fs, upper('ﬁ') AS lig, "
        "levenshtein('é', 'e') AS lev, "
        "size(split('ab', '\\\\s+')) AS vt"
    ).collect()[0]
    assert (row["ub"], row["li"], row["fs"], row["lig"], row["lev"], row["vt"]) == (
        "SS", "i̇", "ας", "FI", 1, 2
    )
    con = duckdb.connect()
    try:
        d = con.sql(
            "SELECT upper('ß'), lower('İ'), lower('ΑΣ'), "
            "upper('ﬁ'), levenshtein('é', 'e'), "
            "len(string_split_regex('a' || chr(11) || 'b', '\\s+'))"
        ).fetchone()
    finally:
        con.close()
    assert d == ("ẞ", "i", "ασ", "ﬁ", 2, 1)


@pytest.fixture(scope="module")
def edgestring_sf_dir(tmp_path_factory, sf_dir) -> str:
    """Twin with degenerate document texts: ~2% empty string, ~2%
    whitespace-only, ~1% a single character (deterministic by doc_id
    hash; n_chars left as stored — a catalog stat can be stale, the
    operators must survive the text itself). The generated testbed's
    shortest document is 47 chars, so zero-token paths — quality-rule
    denominators, shingles shorter than k, empty prefix blocks,
    surprisal over an empty vocabulary — are never exercised by the
    driver data, yet empty documents are routine at corpus scale.
    Spark and DuckDB also disagree on double/0 (Inf vs NULL), so any
    unguarded tokens-per-doc denominator diverges here."""
    import duckdb

    from bigdata_project_spark.tables import TABLES

    dst = tmp_path_factory.mktemp("edgestring_sf")
    con = duckdb.connect()
    try:
        for t in TABLES:
            if t == "documents":
                continue
            con.execute(
                f"COPY (SELECT * FROM '{sf_dir}/{t}.parquet') TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
            )
        con.execute(f"""
            COPY (
                SELECT * REPLACE (
                    CASE
                        WHEN hash(CAST(doc_id AS VARCHAR) || 'edge') % 100 < 2 THEN ''
                        WHEN hash(CAST(doc_id AS VARCHAR) || 'edge') % 100 < 4 THEN '   '
                        WHEN hash(CAST(doc_id AS VARCHAR) || 'edge') % 100 < 5 THEN 'x'
                        ELSE text
                    END AS text
                ) FROM '{sf_dir}/documents.parquet'
            ) TO '{dst}/documents.parquet' (FORMAT PARQUET)
        """)
        n = con.sql(f"SELECT count(*) FROM '{dst}/documents.parquet' WHERE text = ''").fetchone()[0]
        assert n > 0, "edge-string injection is vacuous"
    finally:
        con.close()
    return str(dst)


@pytest.mark.sweep
def test_every_query_agrees_with_oracle_on_edge_strings(spark, edgestring_sf_dir):
    """Full-registry sweep on the empty/whitespace/single-char
    document twin."""
    bad = _sweep(spark, edgestring_sf_dir)
    assert not bad, "edge-string divergences:\n" + "\n".join(bad)


def test_embedding_audit_counts_poisoned_vectors(spark, sf_dir, tmp_path_factory):
    """qa_nonfinite_embeddings on a vector-poisoned twin: NaN / Inf
    entries, NULL vectors, and all-zero vectors injected into known
    rows must be counted exactly (and the audit stays oracle-green on
    the twin). The similarity tier's precondition is gated by this
    audit the same way the exact-sum tier is gated by
    qa_nonfinite_values."""
    import duckdb

    from bigdata_project_spark.registry import REGISTRY, all_queries
    from bigdata_project_spark.tables import TABLES

    dst = tmp_path_factory.mktemp("vecpoison_sf")
    con = duckdb.connect()
    try:
        for t in TABLES:
            if t != "embeddings":
                con.execute(
                    f"COPY (SELECT * FROM '{sf_dir}/{t}.parquet') TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
                )
        con.execute(f"""
            COPY (
                SELECT * REPLACE (
                    CASE
                        WHEN vec_id % 101 = 0 THEN list_transform(embedding,
                            (x, i) -> CASE WHEN i = 1 THEN 'NaN'::REAL ELSE x END)
                        WHEN vec_id % 101 = 1 THEN list_transform(embedding,
                            (x, i) -> CASE WHEN i = 2 THEN 'Infinity'::REAL ELSE x END)
                        WHEN vec_id % 101 = 2 THEN NULL
                        WHEN vec_id % 101 = 3 THEN list_transform(embedding, x -> 0.0::REAL)
                        WHEN vec_id % 101 = 4 THEN list_transform(embedding, x -> NULL::REAL)
                        WHEN vec_id % 101 = 5 THEN list_transform(embedding,
                            (x, i) -> CASE WHEN i = 1 THEN NULL::REAL ELSE x END)
                        ELSE embedding
                    END AS embedding
                ) FROM '{sf_dir}/embeddings.parquet'
            ) TO '{dst}/embeddings.parquet' (FORMAT PARQUET)
        """)
        # case 4 (all elements NULL) counts as a zero-vector in BOTH
        # engines by contract: no nonzero evidence (ADVICE r7 — Spark's
        # EXISTS yields NULL under 3VL, now coalesced to false; DuckDB's
        # list_filter drops NULL-predicate elements). case 5 (one NULL
        # element among nonzero ones) is NOT zero, NOT nan, NOT inf.
        expected = con.sql(f"""
            SELECT SUM(CASE WHEN vec_id % 101 = 0 THEN 1 ELSE 0 END),
                   SUM(CASE WHEN vec_id % 101 = 1 THEN 1 ELSE 0 END),
                   SUM(CASE WHEN vec_id % 101 = 2 THEN 1 ELSE 0 END),
                   SUM(CASE WHEN vec_id % 101 IN (3, 4) THEN 1 ELSE 0 END)
            FROM '{sf_dir}/embeddings.parquet'
        """).fetchone()
    finally:
        con.close()

    row = all_queries()["qa_nonfinite_embeddings"](spark, str(dst)).collect()[0]
    got = (row["n_vec_nan"], row["n_vec_inf"], row["n_vec_null"], row["n_vec_zero"])
    assert got == tuple(expected)
    assert all(c > 0 for c in got)  # injection non-vacuous

    con = duckdb_con(str(dst))
    try:
        res = compare(
            "qa_nonfinite_embeddings",
            all_queries()["qa_nonfinite_embeddings"](spark, str(dst)),
            con,
            REGISTRY["qa_nonfinite_embeddings"].oracle,
        )
        assert res.ok, res.detail
    finally:
        con.close()


def test_timestamp_audit_counts_corrupt_rows(spark, sf_dir, tmp_path_factory):
    """qa_timestamp_bounds on a time-poisoned twin: pre-epoch
    timestamps (the seconds-vs-micros parser confusion, where floor-
    vs-truncate bucketing idioms genuinely diverge) and far-future
    sentinels (watermark poison) injected into known events rows must
    be counted exactly, and the audit stays oracle-green on the
    twin."""
    import duckdb

    from bigdata_project_spark.registry import REGISTRY, all_queries
    from bigdata_project_spark.tables import TABLES

    dst = tmp_path_factory.mktemp("tspoison_sf")
    con = duckdb.connect()
    try:
        for t in TABLES:
            if t != "events":
                con.execute(
                    f"COPY (SELECT * FROM '{sf_dir}/{t}.parquet') TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
                )
        con.execute(f"""
            COPY (
                SELECT * REPLACE (
                    CASE
                        WHEN event_id % 97 = 0 THEN TIMESTAMP '1969-12-31 22:30:00'
                        WHEN event_id % 97 = 1 THEN TIMESTAMP '9999-12-31 00:00:00'
                        ELSE ts
                    END AS ts
                ) FROM '{sf_dir}/events.parquet'
            ) TO '{dst}/events.parquet' (FORMAT PARQUET)
        """)
        n_before_exp, n_after_exp = con.sql(f"""
            SELECT SUM(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END),
                   SUM(CASE WHEN event_id % 97 = 1 THEN 1 ELSE 0 END)
            FROM '{sf_dir}/events.parquet'
        """).fetchone()
    finally:
        con.close()

    rows = {r["table_name"]: r for r in all_queries()["qa_timestamp_bounds"](spark, str(dst)).collect()}
    ev = rows["events"]
    assert (ev["n_before"], ev["n_after"]) == (n_before_exp, n_after_exp)
    assert n_before_exp > 0 and n_after_exp > 0  # injection non-vacuous

    con = duckdb_con(str(dst))
    try:
        res = compare(
            "qa_timestamp_bounds",
            all_queries()["qa_timestamp_bounds"](spark, str(dst)),
            con,
            REGISTRY["qa_timestamp_bounds"].oracle,
        )
        assert res.ok, res.detail
    finally:
        con.close()
