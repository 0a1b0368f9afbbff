"""Audio fingerprint near-dup — the audio twin of dHash (round 13).

Production audio dedup identifies content, not bytes: the same
recording re-encoded, re-gained, or DC-shifted must map to the same
(or nearby) fingerprint. The classic recipe (Haitsma & Kalker 2002,
"A Highly Robust Audio Fingerprinting System") frames the signal,
computes per-frame band energies, and emits one bit per adjacent-band
energy comparison — differences survive transformations that scale
every band together. This module implements that shape with an
INTEGER-EXACT spectral stage so the whole fingerprint is
cross-engine value-oracled:

- frames: 8 windows x 16 samples over a 128-sample PCM clip.
- "band energies": Walsh-Hadamard sequency bins — correlation of the
  window against the +/-1 Hadamard basis rows k = 1..9 (sign =
  (-1)^popcount(k AND i); DC row k=0 is EXCLUDED), absolute value.
  Integer multiply-accumulate only, so Spark (numpy int64 inside the
  Arrow stage) and DuckDB (SUM over bit_count parity signs) compute
  identical bins. A +/-1 basis is the standard integer surrogate for
  DFT band power here; the paper's robustness argument (adjacent-band
  energy ORDER survives global transforms) carries over verbatim.
- bits: bit(w, j) = E(w, j+1) > E(w, j+2) for j = 0..7 — 8 windows x
  8 adjacent-bin compares = a 64-bit signature packed as 16 hex
  nibbles, the SAME representation as dedup_simhash64/dhash64, so the
  pigeonhole Hamming-<=3 block join (`pigeonhole_hamming_pairs`,
  exact by Manku's bound) is shared verbatim.

Invariance is a THEOREM here, pinned through the real codec path by
tests/test_afp.py: Hadamard rows k >= 1 each sum to zero, so a DC
offset adds 0 to every bin; positive amplitude scaling multiplies
every bin by the same factor — both leave every comparison bit
unchanged. The testbed encodes exactly those transforms: groups of
_AFP_GROUP docs share an md5-derived base clip (i.i.d. across groups,
so unrelated clips land Binomial(64, 1/2) apart); v=1 is the base
gained x2, v=2 the base DC-shifted +300, v=3 gained x3 with ONE
sample perturbed (+64) — the "slightly edited re-encode" case whose
distance is small but not structurally zero.

The Spark side runs the REAL pipeline: synthesize genuine RIFF/WAVE
bytes (stdlib `wave`, 16-bit PCM), then a second state-free Arrow
stage decodes the container and computes the fingerprint from
recovered samples — any header/endianness/packing defect breaks the
value match, exactly the multimodal_wav_decode discipline.

Scale: audio bytes never shuffle (both Arrow stages are map-side;
only (doc_id, 16-char signature) rows move); pairing is the proven
bounded-bucket 16-bit-block equi-join. A 100 TB audio corpus swaps
the synthesize stage for a binary-column scan and keeps the rest.

Reference scope: [ext] — the reference (CrawlData.py) has no audio
layer; BASELINE north-star multimodal + dedup pillars.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from bigdata_project_spark.caching import barrier, tracked_persist
from bigdata_project_spark.operators.clustering import components, sql_components, with_reach
from bigdata_project_spark.operators.dedup import (
    pigeonhole_hamming_pairs,
    sql_pigeonhole_ctes,
    sql_pigeonhole_hamming,
    sql_pigeonhole_verify,
)
from bigdata_project_spark.operators.staging import BatchStore, run_chunk_stream
from bigdata_project_spark.registry import REGISTRY, query
from bigdata_project_spark.tables import load

_AFP_GROUP = 4  # docs per synthetic near-dup group (doc_id // 4)
_AFP_N = 128  # samples per clip
_AFP_WIN = 16  # samples per window
_AFP_NWIN = _AFP_N // _AFP_WIN  # 8 windows
_AFP_BINS = 9  # Hadamard rows 1..9 (DC row 0 excluded)
_HEX = "0123456789abcdef"


def _afp_base_sample(g: int, i: int) -> int:
    """Deterministic 12-bit-centered base PCM sample for group g at
    index i — md5-derived (i.i.d. across groups; a linear-congruential
    formula would alias once the corpus exceeds the modulus, the
    dHash lesson). Mirrored term-for-term in the SQL oracle."""
    import hashlib

    hd = hashlib.md5(f"afp:{g}:{i}".encode()).hexdigest()
    return int(hd[0], 16) * 256 + int(hd[1], 16) * 16 + int(hd[2], 16) - 2048


def _afp_samples(doc_id: int) -> list[int]:
    """The variant transform: v=0 base, v=1 gain x2, v=2 DC +300,
    v=3 gain x3 + one perturbed sample. Max |value| = 3*2047 + 64 —
    comfortably inside int16."""
    g, v = doc_id // _AFP_GROUP, doc_id % _AFP_GROUP
    base = [_afp_base_sample(g, i) for i in range(_AFP_N)]
    if v == 1:
        return [2 * s for s in base]
    if v == 2:
        return [s + 300 for s in base]
    if v == 3:
        return [3 * s + (64 if i == 5 else 0) for i, s in enumerate(base)]
    return base


# 9 x 16 Hadamard sign matrix: sign[k][i] = (-1)^popcount((k+1) & i)
_AFP_SIGNS = [
    [1 - 2 * (bin(k & i).count("1") % 2) for i in range(_AFP_WIN)]
    for k in range(1, _AFP_BINS + 1)
]


def _afp64(samples) -> str:
    """64-bit fingerprint of a 128-sample int array as 16 hex chars
    (nibble p = bits 4p..4p+3, MSB first — the dhash64 layout)."""
    import numpy as np

    s = np.asarray(samples, dtype=np.int64).reshape(_AFP_NWIN, _AFP_WIN)
    signs = np.asarray(_AFP_SIGNS, dtype=np.int64)  # (9, 16)
    e = np.abs(s @ signs.T)  # (8 windows, 9 bins)
    bits = (e[:, :-1] > e[:, 1:]).astype(np.int64).reshape(-1)  # (64,)
    nib = bits.reshape(16, 4)
    nv = nib[:, 0] * 8 + nib[:, 1] * 4 + nib[:, 2] * 2 + nib[:, 3]
    return "".join(_HEX[int(x)] for x in nv)


def _sql_s0() -> str:
    """Base-sample expression over (g, i.r) — 3 leading md5 nibbles
    centered at zero."""
    h = "md5('afp:' || CAST(g AS VARCHAR) || ':' || CAST(i.r AS VARCHAR))"
    return (
        f"(instr('{_HEX}', substring({h}, 1, 1)) - 1) * 256"
        f" + (instr('{_HEX}', substring({h}, 2, 1)) - 1) * 16"
        f" + (instr('{_HEX}', substring({h}, 3, 1)) - 1) - 2048"
    )


_SQL_AFP_SIGS = f"""
    d AS (
        SELECT doc_id, doc_id // {_AFP_GROUP} AS g,
               doc_id % {_AFP_GROUP} AS v
        FROM documents
    ),
    base AS MATERIALIZED (
        SELECT doc_id, v, i.r AS i, {_sql_s0()} AS s0
        FROM d, LATERAL (SELECT unnest(range({_AFP_N})) AS r) i
    ),
    smp AS MATERIALIZED (
        SELECT doc_id, i,
               CASE v WHEN 1 THEN 2 * s0
                      WHEN 2 THEN s0 + 300
                      WHEN 3 THEN 3 * s0 + CASE WHEN i = 5 THEN 64 ELSE 0 END
                      ELSE s0 END AS s
        FROM base
    ),
    bins AS MATERIALIZED (
        SELECT doc_id, i // {_AFP_WIN} AS w, k.k AS k,
               ABS(SUM(s * (1 - 2 * (bit_count(CAST(k.k AS BIGINT)
                                     & CAST(i % {_AFP_WIN} AS BIGINT)) % 2)))) AS e
        FROM smp, LATERAL (SELECT unnest(range(1, {_AFP_BINS + 1})) AS k) k
        GROUP BY doc_id, i // {_AFP_WIN}, k.k
    ),
    bits AS (
        SELECT a.doc_id, a.w * 8 + (a.k - 1) AS i,
               CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
        FROM bins a
        JOIN bins b ON b.doc_id = a.doc_id AND b.w = a.w AND b.k = a.k + 1
        WHERE a.k < {_AFP_BINS}
    ),
    nibs AS (
        SELECT doc_id, i // 4 AS p,
               SUM(bit * CASE CAST(i % 4 AS INT)
                         WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2
                         ELSE 1 END) AS nv
        FROM bits GROUP BY doc_id, i // 4
    ),
    sigs AS (
        SELECT doc_id,
               string_agg(substring('{_HEX}', CAST(nv AS INT) + 1, 1),
                          '' ORDER BY p) AS afp64
        FROM nibs GROUP BY doc_id
    )"""


def _afp_payloads_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload): genuine 16-bit PCM RIFF/WAVE bytes per
    document — base clips memoized per group, variants transformed
    per `_afp_samples`. The payload is a scalar pandas UDF column, so
    doc_id filters push below it and a doc_id-only read (the stream's
    key bounds) never synthesizes a clip."""

    @F.pandas_udf("binary")
    def synthesize(doc_ids: pd.Series) -> pd.Series:
        import io
        import struct
        import wave as wave_mod

        out = []
        for doc_id in doc_ids:
            buf = io.BytesIO()
            w = wave_mod.open(buf, "wb")
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(struct.pack(f"<{_AFP_N}h", *_afp_samples(int(doc_id))))
            w.close()
            out.append(buf.getvalue())
        return pd.Series(out, dtype=object)

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return docs.select("doc_id", synthesize("doc_id").alias("payload"))


def _afp_decode(payloads: DataFrame) -> DataFrame:
    """(doc_id, afp64): decode a WAV payload relation back (stdlib
    wave + numpy, no state shared with the synthesize stage beyond
    the bytes) and fingerprint the recovered samples. Shared by the
    batch signature build and the streaming ingest's foreachBatch."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave as wave_mod

        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w = wave_mod.open(io.BytesIO(bytes(payload)), "rb")
                nf = w.getnframes()
                if (nf, w.getnchannels(), w.getsampwidth()) != (_AFP_N, 1, 2):
                    raise ValueError(f"unexpected clip geometry for doc {doc_id}")
                data = np.frombuffer(w.readframes(nf), dtype="<i2").astype(np.int64)
                w.close()
                rows.append((int(doc_id), _afp64(data)))
            yield pd.DataFrame(rows, columns=["doc_id", "afp64"])

    return payloads.mapInPandas(decode, "doc_id long, afp64 string")


def _afp_sigs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, afp64): the batch two-Arrow-stage signature build."""
    return _afp_decode(_afp_payloads_df(spark, sf_dir))


@query(
    "multimodal_audio_fingerprint",
    # the oracle replays PCM formula -> integer Hadamard bins ->
    # adjacent-bin bits -> hex packing in pure SQL; the Spark side
    # must recover the SAME bits from genuine RIFF/WAVE bytes, so a
    # single byte wrong in header layout, sample packing, or the
    # fingerprint arithmetic fails the value hash
    oracle=f"""
    WITH {_SQL_AFP_SIGS}
    SELECT doc_id, afp64 FROM sigs
    """,
    tags=("multimodal", "llm", "udf", "audio", "fingerprint"),
)
def multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint per audio clip: synthesize genuine WAV
    bytes, decode them back through the stdlib codec, and emit the
    64-bit Haitsma-Kalker-style signature (integer Hadamard band
    bins, adjacent-bin comparison bits — module docstring). Gain x2
    and DC +300 variants produce bit-identical signatures to their
    base clip BY ORTHOGONALITY, which tests/test_afp.py pins through
    the real codec path — the audio twin of multimodal_png_resize's
    invariance discipline."""
    return _afp_sigs_df(spark, sf_dir)


@query(
    "multimodal_audio_neardup",
    # full-pipeline oracle: PCM formula -> fingerprint -> pigeonhole
    # blocking -> exact nibble-popcount Hamming verify
    oracle=f"""
    WITH {_SQL_AFP_SIGS},
    {sql_pigeonhole_hamming("afp64")}
    """,
    tags=("multimodal", "dedup", "llm", "udf", "audio", "hamming"),
)
def multimodal_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs at Hamming <= 3 over the fingerprint —
    content identity across gain/offset re-encodes (distance 0 by
    orthogonality) and small edits (v=3's one-sample perturbation
    lands within a few bits when the edit doesn't reorder band
    energies). Blocking is the shared exact pigeonhole equi-join
    (SimHash text / dHash image / this), never all-pairs; at 100 TB
    only (doc_id, 16-char) rows reach the shuffle."""
    sigs = tracked_persist(_afp_sigs_df(spark, sf_dir))
    return pigeonhole_hamming_pairs(sigs, "afp64")


@query(
    "multimodal_audio_dedup_keeper",
    # full-pipeline oracle: PCM formula -> fingerprint -> pigeonhole
    # edges -> recursive transitive closure -> keeper verdict
    oracle=f"""
    WITH RECURSIVE {_SQL_AFP_SIGS},
    {sql_pigeonhole_ctes("afp64")},
    edges AS ({sql_pigeonhole_verify()}),
    {sql_components("documents", "doc_id")}
    SELECT doc_id, component, component_reach,
           CAST(doc_id <> component AS INT) AS is_dup
    FROM comp
    """,
    tags=("multimodal", "dedup", "llm", "clustering", "audio", "iterative"),
)
def multimodal_audio_dedup_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-level dedup VERDICT — the act-on-audit half of
    multimodal_audio_neardup, completing the fingerprint family the
    same way multimodal_dhash_dedup_keeper completes the image one:
    near-dup pairs become transitive clusters via the shared
    `clustering.components`, each clip inherits its component keeper
    (min doc_id), and is_dup marks the re-gained/re-encoded copies a
    training manifest drops. Every clip gets a verdict row.

    Scale: the pair stage is the bounded pigeonhole block join."""
    docs = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    sigs = tracked_persist(_afp_sigs_df(spark, sf_dir))
    comp = components(docs, pigeonhole_hamming_pairs(sigs, "afp64"))
    sigs.unpersist()
    return with_reach(comp).select(
        F.col("id").alias("doc_id"),
        "component",
        "component_reach",
        (F.col("id") != F.col("component")).cast("int").alias("is_dup"),
    )


# the stream's one store: a batch's signatures (kind 'sig') and the
# pairs it emitted (kind 'pair'), written together
_AFP_STORE_SCHEMA = "kind string, doc_id long, afp64 string, doc_a long, doc_b long, hamming int"


def _afp_probe_batch(spark: SparkSession, bdf: DataFrame, bid: int, store: BatchStore) -> None:
    """One micro-batch of the incremental near-dup ingest: decode +
    fingerprint the batch, emit every <= 3-Hamming pair with >= 1
    batch member against the earlier batches' signatures + the batch,
    and write the batch's signatures and pairs in one store write.
    Module-level (not a closure) so tests/test_afp.py can redeliver
    batches directly."""
    bsigs = _afp_decode(bdf).persist()
    seen = store.read(spark, exclude=bid).filter(F.col("kind") == "sig")
    union = seen.select("doc_id", "afp64").unionByName(bsigs)
    batch_ids = bsigs.select(F.col("doc_id").alias("m_did"))
    emitted = pigeonhole_hamming_pairs(union, "afp64").join(
        F.broadcast(batch_ids),
        (F.col("doc_a") == F.col("m_did")) | (F.col("doc_b") == F.col("m_did")),
        "left_semi",
    )
    out = bsigs.withColumn("kind", F.lit("sig")).unionByName(
        emitted.withColumn("kind", F.lit("pair")), allowMissingColumns=True
    )
    store.write(out, bid)
    bsigs.unpersist()


def run_afp_ingest_stream(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> tuple[DataFrame, int]:
    """The fingerprint near-dup in its production home: media BYTES
    arrive on a stream, and the pair relation is maintained
    incrementally — each micro-batch's clips are decoded +
    fingerprinted in the foreachBatch, matched against the signatures
    of earlier batches PLUS the batch itself, and the batch's
    signatures and emitted pairs are written to the one `BatchStore`
    in one write.

    Pair emission is EXACTLY-ONCE BY CONSTRUCTION and ORDER-FREE:
    every emitted pair has >= 1 member in the current batch (pairs
    with both sides already in the store were emitted when their
    later member arrived), so each unordered pair surfaces exactly
    once regardless of delivery order — the CMS mergeability
    argument applied to a pair relation, which is why this query
    shares multimodal_audio_neardup's oracle bit for bit and needs
    no in-order assertion (unlike the semantic ingest stream, whose
    min-id dup_of semantics do require order).

    Redelivery is the store's: a redelivered batch reads every
    committed batch but its own, so it matches against the same
    signatures as the first attempt, and its one write replaces that
    attempt's output, whether committed or torn.

    Scale: per micro-batch work is two map-side Arrow stages over the
    batch's bytes plus one pigeonhole block join of the batch's
    16-char signatures against the store — the store grows with
    CONTENT, never re-fingerprints old media, and in production is an
    indexed upsert surface keyed by the same 16-bit blocks."""
    import os
    import tempfile

    payloads = _afp_payloads_df(spark, sf_dir)
    with tempfile.TemporaryDirectory(prefix="afp_stream_") as work:
        store = BatchStore(os.path.join(work, "store"), _AFP_STORE_SCHEMA)

        def probe(bdf: DataFrame, bid: int) -> None:
            _afp_probe_batch(spark, bdf, bid, store)

        n_batches = run_chunk_stream(payloads, "doc_id", n_chunks, probe, work, ordered=False)
        res = barrier(
            store.read(spark).filter(F.col("kind") == "pair").select("doc_a", "doc_b", "hamming"),
            eager=True,
        )
    return res.orderBy("doc_a", "doc_b"), n_batches


@query(
    "stream_audio_incremental_neardup",
    oracle=None,  # set below: shares multimodal_audio_neardup's oracle
    tags=("streaming", "multimodal", "dedup", "audio", "hamming", "incremental", "foreachBatch"),
)
def stream_audio_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`multimodal_audio_neardup` with the pair relation built
    INCREMENTALLY over three doc_id-ranged micro-batches of raw WAV
    bytes, each writing its signatures and emitted pairs to one
    batch-keyed store in one write (see run_afp_ingest_stream).
    Shares the batch oracle because each unordered pair is emitted
    exactly once — in the micro-batch where its later member arrives
    — so the accumulated emissions reassemble the batch answer;
    cross-batch pairs are only reachable through the stored
    signatures of earlier batches, making the value match a genuine
    multi-batch state-carry check."""
    res, _ = run_afp_ingest_stream(spark, sf_dir, n_chunks=3)
    return res


REGISTRY["stream_audio_incremental_neardup"].oracle = REGISTRY[
    "multimodal_audio_neardup"
].oracle
