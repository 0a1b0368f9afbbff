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
    """The at-least-once claims, EXERCISED on the one batch store.
    Spark redelivers only the latest batch, so each batch is
    redelivered right after its first delivery committed (a committed
    retry), and batch 1 once more after its write died MID-file (a
    torn retry). The final pair set must equal the single-delivery
    answer, with no duplicates."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from bigdata_project_spark.caching import barrier
    from bigdata_project_spark.operators.afp import (
        _AFP_STORE_SCHEMA,
        _afp_payloads_df,
        _afp_probe_batch,
    )
    from bigdata_project_spark.operators.staging import BatchStore

    payloads = _afp_payloads_df(spark, sf_dir).filter(F.col("doc_id") < 16)
    # barriers register their blocks, so the suite's no-leaked-RDDs
    # invariants stay true after the next release
    b0 = barrier(payloads.filter(F.col("doc_id") < 8), eager=True)
    b1 = barrier(payloads.filter(F.col("doc_id") >= 8), eager=True)
    store = BatchStore(str(tmp_path / "store"), _AFP_STORE_SCHEMA)

    def read(kind):
        rows = store.read(spark).filter(F.col("kind") == kind).collect()
        if kind == "sig":
            return sorted((r["doc_id"], r["afp64"]) for r in rows)
        return sorted((r["doc_a"], r["doc_b"], r["hamming"]) for r in rows)

    _afp_probe_batch(spark, b0, 0, store)
    pairs0 = read("pair")
    _afp_probe_batch(spark, b0, 0, store)  # committed retry
    assert read("pair") == pairs0
    _afp_probe_batch(spark, b1, 1, store)
    want, want_sigs = read("pair"), read("sig")
    assert want  # groups of 4 inside doc_id<16 guarantee pairs
    assert len(set(want)) == len(want)
    assert len(want_sigs) == 16  # one row per clip
    _afp_probe_batch(spark, b1, 1, store)  # committed retry
    assert read("pair") == want
    # torn-file crash-retry: batch 1's write died MID-file, so its
    # directory holds a truncated parquet part and NO _SUCCESS marker.
    # Reads skip the torn directory instead of throwing on it, and the
    # retry rebuilds it bit-identically
    torn = os.path.join(store.path, "batch=1")
    shutil.rmtree(torn)
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.snappy.parquet"), "wb") as fh:
        fh.write(b"PAR1\x00\x13torn")  # valid magic, garbage body
    assert read("pair") == pairs0
    _afp_probe_batch(spark, b1, 1, store)
    assert read("pair") == want
    assert read("sig") == want_sigs


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
