"""agg_countmin_audit: the count-min contract (never under, over by
the collision mass) measured on real and crafted corpora."""

from __future__ import annotations


def test_cms_never_underestimates(spark, sf_dir):
    """Every audited token: estimate >= exact (the min-over-rows
    guarantee), overestimate reconciles, and the top-20 are in exact
    descending order of true count."""
    from bigdata_project_spark.registry import all_queries

    rows = all_queries()["agg_countmin_audit"](spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["cms_estimate"] >= r["exact_count"], r
        assert r["overestimate"] == r["cms_estimate"] - r["exact_count"], r


def test_cms_exact_on_sparse_vocab(spark, tmp_path_factory):
    """A vocabulary far below the counter width (~30 tokens vs 1024
    columns x 4 rows) collides with probability ~(n/w)^d per token —
    the sketch should be EXACT for every audited token, and a
    planted heavy token's estimate equals its true count."""
    from bigdata_project_spark.registry import all_queries

    texts = [" ".join([f"tok{i}" for i in range(30)]) for _ in range(3)]
    texts.append("heavy " * 50)
    rows = [(i, t, "lang", "src0", len(t)) for i, t in enumerate(texts)]
    d = str(tmp_path_factory.mktemp("cms"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    out = {r["token"]: r for r in all_queries()["agg_countmin_audit"](spark, d).collect()}
    assert out["heavy"]["exact_count"] == 50
    assert out["heavy"]["cms_estimate"] == 50  # no collision at this density
    assert all(r["overestimate"] == 0 for r in out.values())


def test_stream_cms_equals_batch(spark, sf_dir):
    """Mergeability is the claim: the 3-micro-batch incremental store
    reproduces the batch audit row set exactly, and the stream really
    ran multi-batch (one per chunk) — each batch merging into the
    restored previous version."""
    from bigdata_project_spark.operators.sketch import run_cms_stream
    from bigdata_project_spark.registry import all_queries

    res, n_batches = run_cms_stream(spark, sf_dir, n_chunks=3)
    assert n_batches == 3
    streamed = {tuple(r) for r in res.collect()}
    batch = {
        tuple(r) for r in all_queries()["agg_countmin_audit"](spark, sf_dir).collect()
    }
    assert streamed == batch and len(streamed) == 20


def test_stream_cms_counts_cross_chunk_tokens(spark, tmp_path_factory):
    """A heavy token split ACROSS micro-batches (20 occurrences in
    the low-doc_id chunk, 30 in the high one) is only countable
    through the carried store: the streamed estimate must be the
    full 50."""
    from bigdata_project_spark.operators.sketch import run_cms_stream

    rows = []
    for i in range(10):
        rows.append((i, "heavy heavy filler" + str(i), "lang", "src0", 10))
    for i in range(10, 20):
        rows.append((i, "heavy heavy heavy pad" + str(i), "lang", "src0", 10))
    d = str(tmp_path_factory.mktemp("cmsstream"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    res, n_batches = run_cms_stream(spark, d, n_chunks=2)
    assert n_batches == 2
    out = {r["token"]: r for r in res.collect()}
    assert out["heavy"]["exact_count"] == 50
    assert out["heavy"]["cms_estimate"] == 50


def test_cms_stream_restart_replays_uncommitted_batch_once(spark, sf_dir, tmp_path, monkeypatch):
    """Kill and restart under an injected fault: the driver dies after
    the last micro-batch's state committed but before Spark's commit
    log recorded the batch. A rerun on the same checkpoint replays that
    one batch on the last committed state, so its increments are
    counted once and the counters still equal the batch build. The
    stream keeps the state partitions its first batch recorded, whatever
    the session's value is at the restart."""
    import json
    import os

    from bigdata_project_spark.operators import staging
    from bigdata_project_spark.operators.sketch import (
        _CMS_D,
        _CMS_W,
        _cms_increments,
        _cms_sketch,
        _cms_tf,
    )
    from bigdata_project_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    batch = sorted(tuple(r) for r in _cms_sketch(_cms_tf(docs)).collect())
    work = str(tmp_path)

    def run():
        table, n_batches = staging.count_chunk_stream(
            docs, "doc_id", 3, work, _cms_increments, "c", _CMS_D * _CMS_W, "t_cms_restart"
        )
        return sorted(tuple(r) for r in table.select("r", "col", "c").collect()), n_batches

    assert run() == (batch, 3)

    commits = os.path.join(work, "ckpt", "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))

    # the source keeps its records across the restart, as a Kafka
    # topic would: the rerun must not re-stage the chunks
    monkeypatch.setattr(staging, "stage_chunks_one_pass", lambda *a, **k: None)
    key = "spark.sql.shuffle.partitions"
    session_value = spark.conf.get(key)
    spark.conf.set(key, str(int(session_value) + 3))
    try:
        assert run() == (batch, 1), "the uncommitted batch was not replayed exactly once"
    finally:
        spark.conf.set(key, session_value)
    offsets = os.path.join(work, "ckpt", "offsets")
    for f in (f for f in os.listdir(offsets) if f.isdigit()):
        with open(os.path.join(offsets, f)) as fh:
            assert json.loads(fh.read().splitlines()[1])["conf"][key] == "1", f
