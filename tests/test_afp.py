"""Audio fingerprint (operators/afp.py) quality properties.

The oracle gate proves the WAV encode -> decode -> integer Hadamard
fingerprint path bit-exactly against the SQL replay; these pin what
the hash can't:

- INVARIANCE is exercised through the real codec path, not asserted
  from algebra: the gain-x2 (v=1) and DC-offset (v=2) variants must
  produce signatures bit-identical to their base clip (Hadamard rows
  k >= 1 are zero-sum, so offsets vanish; positive gain scales all
  bins together) — the resize-invariance discipline of
  multimodal_png_resize applied to audio.
- the near-dup relation has the designed group structure: every
  intra-group (base, gain, offset) pair is found at Hamming 0, and
  pair distances never exceed the radius.
- unrelated clips separate: signatures across groups are
  Binomial(64, 1/2) apart, so the overwhelming share of distinct
  signature values is unique to its group.
"""

from __future__ import annotations

import pytest

SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


@pytest.mark.parametrize("sf", SFS)
def test_gain_and_offset_variants_hash_identically(spark, sf):
    from bigdata_project_spark.operators.afp import _AFP_GROUP, _afp_sigs_df

    sigs = {r["doc_id"]: r["afp64"] for r in _afp_sigs_df(spark, sf).collect()}
    assert sigs and all(len(s) == 16 for s in sigs.values())
    for did, sig in sigs.items():
        g, v = did // _AFP_GROUP, did % _AFP_GROUP
        if v in (1, 2):  # pure gain / pure DC offset
            assert sig == sigs[g * _AFP_GROUP], (did, sig)


def test_neardup_pairs_cover_group_structure(spark, sf_dir):
    from bigdata_project_spark.operators.afp import _AFP_GROUP
    from bigdata_project_spark.registry import all_queries
    from bigdata_project_spark.tables import load

    rows = all_queries()["multimodal_audio_neardup"](spark, sf_dir).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
    assert all(0 <= h <= 3 for h in pairs.values())
    doc_ids = {
        r["doc_id"] for r in load(spark, sf_dir, "documents").select("doc_id").collect()
    }
    # every invariant-transform pair (v in {0, 1, 2}) present at 0
    by_group: dict[int, list[int]] = {}
    for d in doc_ids:
        if d % _AFP_GROUP in (0, 1, 2):
            by_group.setdefault(d // _AFP_GROUP, []).append(d)
    for g, members in by_group.items():
        members.sort()
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                assert pairs.get((a, b)) == 0, (a, b, pairs.get((a, b)))


def test_keeper_groups_invariant_variants(spark, sf_dir):
    """Every clip gets one verdict row; the gain/offset variants
    (fingerprint-identical to their base) always share their base's
    component and only the component min survives."""
    from bigdata_project_spark.operators.afp import _AFP_GROUP
    from bigdata_project_spark.registry import all_queries
    from bigdata_project_spark.tables import load

    rows = all_queries()["multimodal_audio_dedup_keeper"](spark, sf_dir).collect()
    comp = {r["doc_id"]: r["component"] for r in rows}
    n_docs = load(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    for r in rows:
        assert r["is_dup"] == int(r["doc_id"] != r["component"])
        assert r["component"] <= r["doc_id"]
    for did in comp:
        if did % _AFP_GROUP in (1, 2):
            base = (did // _AFP_GROUP) * _AFP_GROUP
            if base in comp:
                assert comp[did] == comp[base], (did, base)


def test_stream_neardup_matches_batch_and_consumed_all_chunks(spark, sf_dir):
    """The incremental ingest reassembles the batch pair relation
    exactly (cross-batch pairs only reachable through the persisted
    signature store) and actually ran one micro-batch per staged
    chunk."""
    from bigdata_project_spark.operators.afp import run_afp_ingest_stream
    from bigdata_project_spark.registry import all_queries

    res, n_batches = run_afp_ingest_stream(spark, sf_dir, n_chunks=3)
    assert n_batches == 3
    stream_pairs = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in res.collect()}
    batch_pairs = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in all_queries()["multimodal_audio_neardup"](spark, sf_dir).collect()
    }
    assert stream_pairs == batch_pairs
    assert len(stream_pairs) == len(res.collect())  # no duplicate emissions


def test_probe_batch_idempotent_under_redelivery(spark, sf_dir, tmp_path):
    """The at-least-once claims, EXERCISED: deliver two batches, then
    redeliver both (committed retries) plus a crash-retry where the
    pair emission committed but the store upsert didn't — the final
    pair multiset must equal the single-delivery answer with no
    duplicates and no rollback."""
    import shutil

    from pyspark.sql import functions as F

    from bigdata_project_spark.operators.afp import (
        _afp_payloads_df,
        _afp_probe_batch,
    )

    from bigdata_project_spark.caching import barrier

    payloads = _afp_payloads_df(spark, sf_dir).filter(F.col("doc_id") < 16)
    # barriers register their blocks, so the suite's no-leaked-RDDs
    # invariants stay true after the next release
    b0 = barrier(payloads.filter(F.col("doc_id") < 8), eager=True)
    b1 = barrier(payloads.filter(F.col("doc_id") >= 8), eager=True)
    seen_store, out_store = str(tmp_path / "seen"), str(tmp_path / "out")
    empty = payloads.limit(0).select("doc_id", F.lit("").alias("afp64"))
    empty.write.parquet(seen_store + "/b_init")
    empty.select(
        F.col("doc_id").alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.lit(0).cast("int").alias("hamming"),
    ).limit(0).write.parquet(out_store + "/b_init")

    def read_pairs():
        rows = (
            spark.read.option("recursiveFileLookup", "true")
            .schema("doc_a long, doc_b long, hamming int")
            .parquet(out_store)
            .collect()
        )
        return sorted((r["doc_a"], r["doc_b"], r["hamming"]) for r in rows)

    _afp_probe_batch(spark, b0, 0, seen_store, out_store)
    _afp_probe_batch(spark, b1, 1, seen_store, out_store)
    want = read_pairs()
    assert want  # groups of 4 inside doc_id<16 guarantee pairs
    assert len(set(want)) == len(want)
    # committed-retry redelivery: no-ops
    _afp_probe_batch(spark, b0, 0, seen_store, out_store)
    _afp_probe_batch(spark, b1, 1, seen_store, out_store)
    assert read_pairs() == want
    # crash-retry: batch 1's store upsert is lost after its pair
    # emission committed; the retry must rebuild the store version
    # without changing the emitted pairs
    shutil.rmtree(seen_store + "/b1")
    _afp_probe_batch(spark, b1, 1, seen_store, out_store)
    assert read_pairs() == want
    n_sigs = (
        spark.read.option("recursiveFileLookup", "true")
        .schema("doc_id long, afp64 string")
        .parquet(seen_store)
        .count()
    )
    assert n_sigs == 16  # store restored, one row per clip
    # torn-file crash-retry: the sig write died MID-file — the dir
    # holds a truncated parquet part and NO _SUCCESS marker. The
    # retry must ignore the torn dir (committed-version filter), not
    # throw parsing it, and rebuild the store version bit-identically
    shutil.rmtree(seen_store + "/b1")
    import os

    os.makedirs(seen_store + "/b1")
    with open(seen_store + "/b1/part-00000.snappy.parquet", "wb") as fh:
        fh.write(b"PAR1\x00\x13torn")  # valid magic, garbage body
    _afp_probe_batch(spark, b1, 1, seen_store, out_store)
    assert read_pairs() == want
    n_sigs2 = (
        spark.read.schema("doc_id long, afp64 string")
        .parquet(*[f"{seen_store}/{d}" for d in ("b_init", "b0", "b1")])
        .count()
    )
    assert n_sigs2 == 16


def test_groups_separate(spark, sf_dir):
    """Cross-group signatures are md5-noise apart: distinct groups
    overwhelmingly map to distinct signature values."""
    from bigdata_project_spark.operators.afp import _AFP_GROUP, _afp_sigs_df

    sigs = [
        (r["doc_id"] // _AFP_GROUP, r["afp64"])
        for r in _afp_sigs_df(spark, sf_dir).collect()
    ]
    groups_per_sig: dict[str, set[int]] = {}
    for g, s in sigs:
        groups_per_sig.setdefault(s, set()).add(g)
    shared = sum(1 for gs in groups_per_sig.values() if len(gs) > 1)
    assert shared <= len(groups_per_sig) // 20, (
        f"{shared}/{len(groups_per_sig)} signature values span groups"
    )
