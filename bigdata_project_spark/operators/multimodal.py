"""Multimodal column plumbing (SURVEY.md §2.10).

Image/audio/video payloads are opaque `binary` columns with typed
metadata; decode / feature-extraction runs as Arrow-batched
mapInPandas. Honesty split (rounds 8-9): audio decode is REAL —
`multimodal_wav_decode` writes and parses genuine RIFF/WAVE
containers with the stdlib `wave` codec — and image decode is REAL
for PNG — `multimodal_png_decode` writes and parses genuine PNG
(CRC'd chunks, zlib deflate, the full five-filter unfilter set) with
stdlib `zlib` + `struct` — both verified bit-exactly against formula
oracles. Only formats needing external codec libraries (JPEG/MP3/
H.264; PIL/ffmpeg don't ship in this container) remain stubbed with
a deterministic fake (byte-level statistics standing in for pixel
statistics); the plumbing a real compressed decoder would use —
binary column in, fixed-schema feature struct + float vector out,
batch-at-a-time — is exactly the tested one.

The testbed has no binary table, so documents.text is encoded to
UTF-8 bytes as the stand-in payload (the WAV query synthesizes its
own containers from doc_id instead).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata_project_spark.operators.clustering import components, sql_components, with_reach
from bigdata_project_spark.operators.dedup import (
    sql_pigeonhole_ctes,
    sql_pigeonhole_hamming,
    sql_pigeonhole_verify,
)
from bigdata_project_spark.registry import query
from bigdata_project_spark.tables import load


def _payload_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text as an opaque binary payload + metadata struct —
    the multimodal storage model: (id, bytes, metadata)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("source").alias("origin"),
            F.octet_length(F.encode("text", "UTF-8")).alias("n_bytes"),
        ).alias("meta"),
    )


@query(
    "multimodal_binary_metadata",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS digest,
           source AS origin,
           'text/plain' AS mime,
           to_base64(encode(substring(text, 1, 8))) AS head_b64
    FROM documents
    """,
    tags=("multimodal", "llm"),
)
def multimodal_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata path: byte length, content digest,
    payload head — all JVM-side on the binary column (what a manifest/
    catalog scan over 100 TB of media does without decoding)."""
    p = _payload_df(spark, sf_dir)
    return p.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5("payload").alias("digest"),
        F.col("meta.origin").alias("origin"),
        F.col("meta.mime").alias("mime"),
        F.base64(F.substring("payload", 1, 8)).alias("head_b64"),
    )


# Byte-faithful payload decode for the oracles: hex(encode(text))
# yields two uppercase hex digits per UTF-8 BYTE, so b is the true
# byte value for any text (multibyte included) — exactly what the
# Spark side's bytes-in Python decoder sees. The previous
# ascii(substring(text, i, 1)) form walked codepoints and was only
# byte-equal on ASCII corpora (caught by the round-7 unicode twin).
_SQL_BYTES = """
    hexed AS (
        SELECT doc_id, hex(encode(text)) AS h FROM documents
    ),
    bytes AS (
        SELECT doc_id,
               (instr('0123456789ABCDEF', substring(h, 2 * CAST(i AS INT) - 1, 1)) - 1) * 16
               + (instr('0123456789ABCDEF', substring(h, 2 * CAST(i AS INT), 1)) - 1) AS b
        FROM hexed, unnest(generate_series(1, CAST(length(h) / 2 AS BIGINT))) AS t(i)
    )
"""


_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("max_byte", T.IntegerType()),
        # the 8-bin byte histogram, flattened to scalar columns so every
        # output cell is hashable by row-canonicalizing harnesses (an
        # array<float> cell breaks pandas sort_values); the vector form
        # lives in `decode_feature_vector` below for ANN-style consumers.
        *[T.StructField(f"f{i}", T.DoubleType()) for i in range(8)],
    ]
)


def decode_image(payload: bytes) -> dict:
    """Decode an image payload into pixels.

    STUB for JPEG/WEBP/...: those need an image library that is not
    available in this container. PNG decode is REAL and stdlib-only —
    see `multimodal_png_decode`. The Spark-side plumbing (binary in,
    typed feature row out, Arrow batches) is real and tested with the
    deterministic fake below.
    """
    raise NotImplementedError(
        "JPEG/WEBP decoding requires PIL/libvips; not available in this "
        "container (PNG is handled by the real stdlib path in "
        "multimodal_png_decode)"
    )


@query(
    "multimodal_decode_features",
    # The stand-in decoder computes byte statistics over the UTF-8
    # payload; the oracle replays them BYTE-faithfully by hex-decoding
    # encode(text) (round 7 — the previous ascii(substring(...)) form
    # walked CODEPOINTS, which only equals bytes on ASCII corpora and
    # diverged on the multilingual twin). Integer counts, then one
    # exact int/int -> double division per cell (IEEE-identical in
    # both engines).
    oracle=f"""
    WITH {_SQL_BYTES},
    stats AS (
        SELECT doc_id,
               count(*) AS n,
               sum(b) AS s,
               max(b) AS mx,
               sum(CASE WHEN b >> 5 = 0 THEN 1 ELSE 0 END) AS h0,
               sum(CASE WHEN b >> 5 = 1 THEN 1 ELSE 0 END) AS h1,
               sum(CASE WHEN b >> 5 = 2 THEN 1 ELSE 0 END) AS h2,
               sum(CASE WHEN b >> 5 = 3 THEN 1 ELSE 0 END) AS h3,
               sum(CASE WHEN b >> 5 = 4 THEN 1 ELSE 0 END) AS h4,
               sum(CASE WHEN b >> 5 = 5 THEN 1 ELSE 0 END) AS h5,
               sum(CASE WHEN b >> 5 = 6 THEN 1 ELSE 0 END) AS h6,
               sum(CASE WHEN b >> 5 = 7 THEN 1 ELSE 0 END) AS h7
        FROM bytes
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(s.n, 0) AS INT) AS n_bytes,
           CASE WHEN s.n IS NULL THEN 0.0 ELSE CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE) END AS mean_byte,
           CAST(coalesce(s.mx, 0) AS INT) AS max_byte,
           CASE WHEN s.n IS NULL THEN 0.0 ELSE CAST(s.h0 AS DOUBLE) / CAST(s.n AS DOUBLE) END AS f0,
           CASE WHEN s.n IS NULL THEN 0.0 ELSE CAST(s.h1 AS DOUBLE) / CAST(s.n AS DOUBLE) END AS f1,
           CASE WHEN s.n IS NULL THEN 0.0 ELSE CAST(s.h2 AS DOUBLE) / CAST(s.n AS DOUBLE) END AS f2,
           CASE WHEN s.n IS NULL THEN 0.0 ELSE CAST(s.h3 AS DOUBLE) / CAST(s.n AS DOUBLE) END AS f3,
           CASE WHEN s.n IS NULL THEN 0.0 ELSE CAST(s.h4 AS DOUBLE) / CAST(s.n AS DOUBLE) END AS f4,
           CASE WHEN s.n IS NULL THEN 0.0 ELSE CAST(s.h5 AS DOUBLE) / CAST(s.n AS DOUBLE) END AS f5,
           CASE WHEN s.n IS NULL THEN 0.0 ELSE CAST(s.h6 AS DOUBLE) / CAST(s.n AS DOUBLE) END AS f6,
           CASE WHEN s.n IS NULL THEN 0.0 ELSE CAST(s.h7 AS DOUBLE) / CAST(s.n AS DOUBLE) END AS f7
    FROM documents d
    LEFT JOIN stats s USING (doc_id)
    """,
    tags=("multimodal", "llm", "udf"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over binary payloads: the
    multimodal decode shape — Arrow batches of (id, bytes) in, typed
    feature rows (scalars + float vector) out. Decoder is the
    deterministic stub; swap `fake_features` for a real decoder
    (`decode_image`) on a cluster with the media libraries installed.
    Partitioning: payloads stay where they are; no shuffle — the
    extraction is embarrassingly parallel map-side work.

    NB everything the UDF closure touches is defined INSIDE this
    function so cloudpickle serializes it by value — Python workers
    must not need this repo on their import path.
    """
    p = _payload_df(spark, sf_dir).select("doc_id", "payload")

    def fake_features(payload: bytes) -> tuple[int, float, int, list[float]]:
        # deterministic stand-in for decode+feature-extract: byte
        # statistics + an 8-bin byte histogram as the 'feature vector'
        n = len(payload)
        if n == 0:
            return 0, 0.0, 0, [0.0] * 8
        hist = [0] * 8
        for by in payload:
            hist[by >> 5] += 1
        return n, sum(payload) / n, max(payload), [h / n for h in hist]

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "n_bytes", "mean_byte", "max_byte"] + [f"f{i}" for i in range(8)]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                # missing asset (NULL payload) == zero-byte payload: the
                # n=0 defaults row, same as the oracle's LEFT JOIN branch
                n_bytes, mean_byte, max_byte, features = fake_features(
                    b"" if payload is None else bytes(payload)
                )
                rows.append((int(doc_id), n_bytes, mean_byte, max_byte, *features))
            yield pd.DataFrame(rows, columns=cols)

    return p.mapInPandas(extract, _FEATURE_SCHEMA)


def decode_feature_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-form variant of `multimodal_decode_features`: same Arrow
    plumbing, features packed back into `array<float>` for downstream
    ANN/similarity consumers (multimodal_feature_knn below). Not
    registered as a driver query itself — array cells are not
    row-hashable — but it feeds the registered kNN query, so the two
    forms cannot drift."""
    flat = multimodal_decode_features(spark, sf_dir)
    return flat.select(
        "doc_id",
        "n_bytes",
        "mean_byte",
        "max_byte",
        F.array(*[F.col(f"f{i}").cast("float") for i in range(8)]).alias("features"),
    )


_KNN_QUERY_IDS = (0, 1, 2)
_KNN_TOP_K = 5
# the oracle re-derives the float32 feature vector from byte stats:
# integer-count ratio -> exact double division -> REAL cast (same
# rounding as Spark's float cast), then the cosine is the similarity
# module's exact left-associated double chain
_SQL_FEATS = f"""
    {_SQL_BYTES},
    stats AS (
        SELECT doc_id, count(*) AS n,
               sum(CASE WHEN b >> 5 = 0 THEN 1 ELSE 0 END) AS h0,
               sum(CASE WHEN b >> 5 = 1 THEN 1 ELSE 0 END) AS h1,
               sum(CASE WHEN b >> 5 = 2 THEN 1 ELSE 0 END) AS h2,
               sum(CASE WHEN b >> 5 = 3 THEN 1 ELSE 0 END) AS h3,
               sum(CASE WHEN b >> 5 = 4 THEN 1 ELSE 0 END) AS h4,
               sum(CASE WHEN b >> 5 = 5 THEN 1 ELSE 0 END) AS h5,
               sum(CASE WHEN b >> 5 = 6 THEN 1 ELSE 0 END) AS h6,
               sum(CASE WHEN b >> 5 = 7 THEN 1 ELSE 0 END) AS h7
        FROM bytes GROUP BY doc_id
    ),
    feats AS (
        SELECT doc_id,
               CAST(CAST(h0 AS DOUBLE) / CAST(n AS DOUBLE) AS REAL) AS f0,
               CAST(CAST(h1 AS DOUBLE) / CAST(n AS DOUBLE) AS REAL) AS f1,
               CAST(CAST(h2 AS DOUBLE) / CAST(n AS DOUBLE) AS REAL) AS f2,
               CAST(CAST(h3 AS DOUBLE) / CAST(n AS DOUBLE) AS REAL) AS f3,
               CAST(CAST(h4 AS DOUBLE) / CAST(n AS DOUBLE) AS REAL) AS f4,
               CAST(CAST(h5 AS DOUBLE) / CAST(n AS DOUBLE) AS REAL) AS f5,
               CAST(CAST(h6 AS DOUBLE) / CAST(n AS DOUBLE) AS REAL) AS f6,
               CAST(CAST(h7 AS DOUBLE) / CAST(n AS DOUBLE) AS REAL) AS f7
        FROM stats
    )
"""


def _sql_dot8(a: str, b: str) -> str:
    return " + ".join(f"CAST({a}.f{i} AS DOUBLE) * CAST({b}.f{i} AS DOUBLE)" for i in range(8))


@query(
    "multimodal_feature_knn",
    oracle=f"""
    WITH {_SQL_FEATS},
    normed AS (SELECT *, {_sql_dot8('feats', 'feats')} AS norm_sq FROM feats),
    pairs AS (
        SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
               ({_sql_dot8('q', 'c')}) / (SQRT(q.norm_sq) * SQRT(c.norm_sq)) AS cosine
        FROM normed q JOIN normed c ON c.doc_id <> q.doc_id
        WHERE q.doc_id IN {_KNN_QUERY_IDS}
    )
    SELECT query_id, doc_id, cosine, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, doc_id) AS rank
        FROM pairs
    ) WHERE rank <= {_KNN_TOP_K}
    """,
    tags=("multimodal", "similarity", "llm", "knn"),
)
def multimodal_feature_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal retrieval: decode_feature_vector's
    array<float> features (the Arrow mapInPandas decode path) feed the
    similarity engine's exact cosine top-k — decode once, broadcast the
    tiny query set, scan the corpus in place. The consumer that keeps
    the vector-form decode output in sync with the flat driver query it
    derives from."""
    from bigdata_project_spark.operators.vecmath import dot

    feats = decode_feature_vector(spark, sf_dir).filter(F.col("n_bytes") > 0)
    normed = feats.select("doc_id", "features").withColumn(
        "norm_sq", dot("features", "features")
    )
    q = normed.filter(F.col("doc_id").isin(*_KNN_QUERY_IDS)).select(
        F.col("doc_id").alias("query_id"),
        F.col("features").alias("q_features"),
        F.col("norm_sq").alias("q_norm_sq"),
    )
    pairs = normed.join(F.broadcast(q), F.col("doc_id") != F.col("query_id"))
    cosine = dot("q_features", "features") / (F.sqrt("q_norm_sq") * F.sqrt("norm_sq"))
    scored = pairs.select("query_id", "doc_id", cosine.alias("cosine"))
    from pyspark.sql.window import Window as W

    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "doc_id")
    return scored.select("*", F.row_number().over(w).alias("rank")).filter(
        F.col("rank") <= _KNN_TOP_K
    )


@query(
    "multimodal_frame_sample_plan",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS duration_ms,
           CAST(len([x FOR x IN generate_series(0, 7)
                     IF CAST(floor(x * octet_length(encode(text)) / 8) AS BIGINT)
                        < octet_length(encode(text))]) AS INT) AS n_frames,
           array_to_string(
               [CAST(floor(x * octet_length(encode(text)) / 8) AS BIGINT)
                FOR x IN generate_series(0, 7)
                IF CAST(floor(x * octet_length(encode(text)) / 8) AS BIGINT)
                   < octet_length(encode(text))], ',') AS frame_offsets_ms
    FROM documents
    WHERE octet_length(encode(text)) > 0
    """,
    tags=("multimodal", "llm", "plan"),
)
def multimodal_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform frame-sampling plan for media payloads: 8 sample
    offsets per asset, offset_i = floor(i * duration / 8), using the
    payload byte length as the duration stand-in (the real pipeline
    reads duration from container metadata the same way — no decode
    needed to PLAN the sampling). A video loader then seeks exactly
    these offsets, so 100 TB of video is sampled with 8 range-reads
    per asset instead of full scans.

    Scale: pure map — one transform() over a literal 0..7 sequence
    per row, integer arithmetic only (floor of exact integer division
    on BIGINT), no shuffle, no Python. The offset filter (< duration)
    trims assets shorter than the frame count, mirroring the oracle's
    list-comprehension filter; division by 8 is a binary-exact scale,
    so the floors agree across engines."""
    p = _payload_df(spark, sf_dir)
    dur = F.col("meta.n_bytes").cast("bigint")
    offsets = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: F.floor(i.cast("bigint") * dur / F.lit(8)).cast("bigint"),
        ),
        lambda o: o < dur,
    )
    return (
        p.filter(dur > 0)
        .select(
            "doc_id",
            dur.cast("int").alias("duration_ms"),
            F.size(offsets).alias("n_frames"),
            # CSV string, not array<bigint>: list cells are unhashable
            # in the external harness's pandas canonicalizer
            F.array_join(offsets, ",").alias("frame_offsets_ms"),
        )
    )


@query(
    "multimodal_resize_plan",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               64 + octet_length(encode(text)) % 960 AS src_w,
               64 + (octet_length(encode(text)) // 7) % 960 AS src_h
        FROM documents
    )
    SELECT doc_id, src_w, src_h,
           CASE WHEN greatest(src_w, src_h) <= 224 THEN src_w
                ELSE greatest(CAST(src_w * 224 // greatest(src_w, src_h) AS BIGINT), 1) END AS out_w,
           CASE WHEN greatest(src_w, src_h) <= 224 THEN src_h
                ELSE greatest(CAST(src_h * 224 // greatest(src_w, src_h) AS BIGINT), 1) END AS out_h,
           CAST(greatest(src_w, src_h) > 224 AS INT) AS needs_resize
    FROM dims
    """,
    tags=("multimodal", "llm", "plan"),
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning for image payloads: fit each asset into a
    224-max-side box preserving aspect ratio, computed from container
    metadata alone (source dims here derived deterministically from
    the payload length stand-in — a real pipeline reads them from the
    image header without decoding pixels). The scaled dimensions use
    INTEGER floor division (w * 224 div max_side), so the plan is
    engine-exact with no float rounding at the 1-pixel boundary
    (degenerate aspect ratios clamp to 1 px — a property test caught
    floor division collapsing a 225x1 asset to zero height), and
    a batch resizer can pre-allocate exact output buffers for 100 TB
    of images before touching a single byte of pixel data.

    Scale: pure map, codegen'd integer arithmetic, no shuffle."""
    p = _payload_df(spark, sf_dir)
    nb = F.col("meta.n_bytes").cast("bigint")
    src_w = (F.lit(64) + nb % 960).alias("src_w")
    src_h = (F.lit(64) + F.expr("meta.n_bytes div 7") % 960).alias("src_h")
    dims = p.select("doc_id", src_w, src_h)
    m = F.greatest("src_w", "src_h")
    fit = m <= 224
    return dims.select(
        "doc_id",
        "src_w",
        "src_h",
        F.when(fit, F.col("src_w"))
        .otherwise(F.expr("greatest((src_w * 224) div greatest(src_w, src_h), 1)"))
        .alias("out_w"),
        F.when(fit, F.col("src_h"))
        .otherwise(F.expr("greatest((src_h * 224) div greatest(src_w, src_h), 1)"))
        .alias("out_h"),
        (~fit).cast("int").alias("needs_resize"),
    )


@query(
    "multimodal_audio_chunk_plan",
    oracle="""
    WITH pcm AS (
        SELECT doc_id,
               octet_length(encode(text)) AS n_samples
        FROM documents
        WHERE octet_length(encode(text)) >= 200
    )
    SELECT doc_id, n_samples,
           n_samples * 1000 // 8000 AS duration_ms,
           (n_samples - 200) // 80 + 1 AS n_frames,
           ((n_samples - 200) // 80) * 80 AS last_frame_start,
           n_samples - (((n_samples - 200) // 80) * 80 + 200) AS tail_samples
    FROM pcm
    """,
    tags=("multimodal", "audio", "llm", "plan"),
)
def multimodal_audio_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio framing plan for PCM payloads: the 25 ms / 10 ms
    frame-hop grid every speech feature extractor (MFCC, fbank,
    wav2vec-style encoders) consumes, planned from container metadata
    alone. The payload byte length stands in for the PCM body (8-bit
    mono at 8 kHz: n_samples = n_bytes, so 25 ms = 200 samples and
    10 ms = 80 samples; a real pipeline reads sample count and rate
    from the WAV/FLAC header without decoding — at 16-bit/16 kHz the
    same plan runs with n_bytes div 2 and a 400/160 grid).
    Per asset: total samples, duration, the number of 200-sample
    frames at 80-sample hop, the last frame's start offset, and the
    uncovered tail — so a batch featurizer can pre-allocate exact
    frame tensors and range-read each frame's byte span for 100 TB
    of audio without a single full-file decode. Completes the
    modality trio next to multimodal_frame_sample_plan (video) and
    multimodal_resize_plan (images).

    Determinism: pure BIGINT floor-division arithmetic end-to-end —
    no floats anywhere, so the plan is engine-exact by construction.

    Scale: pure map over the payload table (codegen'd integer ops,
    no shuffle, no Python); assets shorter than one frame are
    filtered in the same scan predicate."""
    p = _payload_df(spark, sf_dir)
    n_samples = F.col("meta.n_bytes").cast("bigint")
    plan = p.select("doc_id", n_samples.alias("n_samples")).filter(
        F.col("n_samples") >= 200
    )
    last_start = F.expr("((n_samples - 200) div 80) * 80")
    return plan.select(
        "doc_id",
        "n_samples",
        F.expr("(n_samples * 1000) div 8000").alias("duration_ms"),
        F.expr("(n_samples - 200) div 80 + 1").alias("n_frames"),
        last_start.alias("last_frame_start"),
        (F.col("n_samples") - (last_start + 200)).alias("tail_samples"),
    )


_WAV_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("framerate", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("max_abs", T.LongType()),
        T.StructField("n_positive", T.LongType()),
    ]
)


@query(
    "multimodal_wav_decode",
    # the oracle replays the PCM-generating formula directly in
    # integer arithmetic — if the Spark side, which parses the actual
    # RIFF/WAVE bytes it synthesized, produces the same numbers, the
    # full encode -> container -> decode -> feature path is proven
    # end to end with no float anywhere
    oracle="""
    WITH n AS (SELECT doc_id, 64 + doc_id % 64 AS nf FROM documents),
    s AS (
        SELECT doc_id, nf,
               ((doc_id * 31 + i.r * 17) % 2003) - 1001 AS v
        FROM n, LATERAL (SELECT unnest(range(nf)) AS r) i
    )
    SELECT doc_id,
           1 AS n_channels,
           8000 AS framerate,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(SUM(abs(v)) AS BIGINT) AS sum_abs,
           CAST(MAX(abs(v)) AS BIGINT) AS max_abs,
           CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive
    FROM s
    GROUP BY doc_id, nf
    """,
    tags=("multimodal", "llm", "udf", "audio"),
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode (round 8) — not a stub: deterministic 16-bit
    PCM (one sample formula per (doc_id, i)) is packed into a genuine
    RIFF/WAVE container with the stdlib `wave` writer in one Arrow
    stage, and a SECOND Arrow stage — sharing no state with the first
    beyond the bytes — parses the container back with `wave` + numpy
    and emits integer features (frame count, sum/max of |amplitude|,
    positive-sample count). The oracle recomputes the features from
    the generating formula, so a single byte wrong anywhere in the
    header layout, sample width, endianness, or frame packing fails
    the hash.

    This upgrades the multimodal tier's honesty split: UNCOMPRESSED
    audio decode is now real (stdlib codec); compressed formats
    (JPEG/MP3/H.264) remain stubbed behind `decode_image`'s
    NotImplementedError because no codec libraries ship in this
    container — the plumbing they would use is exactly this one.

    Scale: both stages are embarrassingly parallel map-side Arrow
    batches — payloads never shuffle; at 100 TB of media the only
    movement is the (id, features) rows, a thousandth of the input."""
    import numpy as np

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def synthesize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import struct
        import wave as wave_mod

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                n = 64 + did % 64
                samples = [((did * 31 + i * 17) % 2003) - 1001 for i in range(n)]
                buf = io.BytesIO()
                w = wave_mod.open(buf, "wb")
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(8000)
                w.writeframes(struct.pack(f"<{n}h", *samples))
                w.close()
                rows.append((did, buf.getvalue()))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave as wave_mod

        cols = [
            "doc_id", "n_channels", "framerate", "n_frames",
            "sum_abs", "max_abs", "n_positive",
        ]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w = wave_mod.open(io.BytesIO(bytes(payload)), "rb")
                nf = w.getnframes()
                n_channels = w.getnchannels()
                framerate = w.getframerate()
                data = np.frombuffer(w.readframes(nf), dtype="<i2").astype(np.int64)
                w.close()
                rows.append(
                    (
                        int(doc_id),
                        n_channels,
                        framerate,
                        nf,
                        int(np.abs(data).sum()),
                        int(np.abs(data).max()),
                        int((data > 0).sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    payloads = docs.mapInPandas(
        synthesize, "doc_id long, payload binary"
    )
    return payloads.mapInPandas(decode, _WAV_SCHEMA)


def _encode_png(arr) -> bytes:
    """Genuine PNG bytes for an h x w x 3 uint8 numpy array: PNG
    signature, CRC32-checksummed IHDR/IDAT/IEND chunks,
    zlib-deflated scanlines with CYCLING filter types (None/Sub/Up
    by row) so every decoder that reads these bytes must implement
    real unfilter arithmetic. Shared by the PNG-decode proof and the
    dHash image near-dup synthesizer."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    h, w, _ = arr.shape
    stride = w * 3
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        row = bytes(arr[y].reshape(-1))
        f = y % 3
        raw.append(f)
        if f == 0:
            raw += row
        elif f == 1:  # Sub: store cur - left (bpp = 3)
            raw += bytes(
                (row[i] - (row[i - 3] if i >= 3 else 0)) & 255 for i in range(stride)
            )
        else:  # Up: store cur - above
            raw += bytes((row[i] - prev[i]) & 255 for i in range(stride))
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _parse_png(buf: bytes):
    """Parse genuine PNG bytes back to (w, h, h x w x 3 uint8 array):
    signature check, per-chunk CRC verification, IHDR validation,
    zlib inflate, and the COMPLETE five-filter unfilter set
    (None/Sub/Up/Average/Paeth). Shared by the PNG-decode proof and
    the dHash image near-dup decoder."""
    import struct
    import zlib

    import numpy as np

    if buf[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("bad PNG signature")
    pos, idat, w, h = 8, b"", None, None
    while pos < len(buf):
        (ln,) = struct.unpack(">I", buf[pos : pos + 4])
        typ = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", buf[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError("PNG chunk CRC mismatch")
        if typ == b"IHDR":
            w, h, depth, ctype, comp, filt, ilace = struct.unpack(">IIBBBBB", data)
            if (depth, ctype, comp, filt, ilace) != (8, 2, 0, 0, 0):
                raise ValueError("unsupported PNG variant")
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln
    raw = zlib.decompress(idat)
    stride = w * 3
    out = bytearray()
    prev = bytearray(stride)
    p = 0
    for _y in range(h):
        f = raw[p]
        p += 1
        row = bytearray(raw[p : p + stride])
        p += stride
        if f == 0:
            pass
        elif f == 1:  # Sub
            for i in range(3, stride):
                row[i] = (row[i] + row[i - 3]) & 255
        elif f == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 255
        elif f == 3:  # Average
            for i in range(stride):
                left = row[i - 3] if i >= 3 else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 255
        elif f == 4:  # Paeth
            for i in range(stride):
                a = row[i - 3] if i >= 3 else 0
                b = prev[i]
                c = prev[i - 3] if i >= 3 else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 255
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out += row
        prev = row
    return w, h, np.frombuffer(bytes(out), dtype=np.uint8).reshape(h, w, 3)


_PNG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("n_bright", T.LongType()),
    ]
)


@query(
    "multimodal_png_decode",
    # the oracle replays the pixel-generating formula in integer
    # arithmetic — the Spark side must reproduce it from the actual
    # PNG bytes (signature, CRC'd chunks, IHDR, zlib inflate, scanline
    # unfilter), so one wrong byte anywhere in the container or one
    # wrong term in the filter arithmetic fails the hash
    oracle="""
    WITH d AS (
        SELECT doc_id, 8 + doc_id % 8 AS w, 8 + (doc_id // 8) % 8 AS h
        FROM documents
    ),
    px AS (
        SELECT doc_id, w, h,
               (doc_id * 7 + x.r * 3 + y.r * 5) % 256 AS r,
               (doc_id * 11 + x.r * 13 + y.r * 2) % 256 AS g,
               (doc_id * 3 + x.r + y.r * 19) % 256 AS b
        FROM d,
             LATERAL (SELECT unnest(range(w)) AS r) x,
             LATERAL (SELECT unnest(range(h)) AS r) y
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           CAST(SUM(CASE WHEN r + g + b >= 384 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bright
    FROM px GROUP BY doc_id, w, h
    """,
    tags=("multimodal", "llm", "udf", "image"),
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (round 9) — stdlib only, mirroring the
    `multimodal_wav_decode` two-Arrow-stage proof pattern: a
    deterministic RGB image per doc (one pixel formula per
    (doc_id, x, y)) is encoded into a genuine PNG — signature,
    CRC32-checksummed IHDR/IDAT/IEND chunks, zlib-deflated scanlines
    with a MIX of filter types (None/Sub/Up, cycling by row) so the
    decoder's unfilter arithmetic is actually load-bearing — and a
    second, state-free Arrow stage parses the container back:
    signature check, per-chunk CRC verification, IHDR field
    validation, inflate, and full five-filter unfiltering
    (None/Sub/Up/Average/Paeth, the complete PNG filter set). Integer
    channel statistics come from the recovered pixels; the oracle
    recomputes them from the generating formula.

    This narrows the multimodal honesty split again (r8: WAV):
    uncompressed audio AND deflate-compressed images are now real
    stdlib codec paths; only formats needing external codec libraries
    (JPEG/MP3/H.264) remain stubbed behind `decode_image`.

    Scale: both stages are embarrassingly parallel map-side Arrow
    batches — image bytes never shuffle; only (id, features) rows
    move. A real 100 TB image corpus swaps the synthesize stage for a
    parquet/tar binary-column scan and keeps the decode stage as-is."""
    import numpy as np

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def synthesize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                w, h = 8 + did % 8, 8 + (did // 8) % 8
                xs = np.arange(w).reshape(1, w)
                ys = np.arange(h).reshape(h, 1)
                arr = np.stack(
                    [
                        (did * 7 + xs * 3 + ys * 5) % 256,
                        (did * 11 + xs * 13 + ys * 2) % 256,
                        (did * 3 + xs + ys * 19) % 256,
                    ],
                    axis=2,
                ).astype(np.uint8)
                rows.append((did, _encode_png(arr)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parse = _parse_png
        cols = [
            "doc_id", "width", "height", "n_pixels",
            "sum_r", "sum_g", "sum_b", "n_bright",
        ]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, arr = parse(bytes(payload))
                px = arr.astype(np.int64)
                rows.append(
                    (
                        int(doc_id),
                        w,
                        h,
                        w * h,
                        int(px[:, :, 0].sum()),
                        int(px[:, :, 1].sum()),
                        int(px[:, :, 2].sum()),
                        int((px.sum(axis=2) >= 384).sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    payloads = docs.mapInPandas(synthesize, "doc_id long, payload binary")
    return payloads.mapInPandas(decode, _PNG_SCHEMA)


# dHash geometry: fixed 18x16 RGB images -> 9x8 grid of 2x2-box
# gray sums -> 8 left>right compares per grid row = 64 bits. All
# integer arithmetic (luma = 299r + 587g + 114b, UNdivided box SUMS
# compared instead of averages) so DuckDB replays the hash bit-exactly.
_DHASH_W, _DHASH_H = 18, 16
_DHASH_GROUP = 4  # docs per synthetic near-dup group (doc_id // 4)


def _dhash_pixels(doc_id: int):
    """The deterministic image-generating formula for the dHash
    testbed: every doc in a group of _DHASH_GROUP shares a base
    image whose pixels are md5-derived per (group, x, y) — i.i.d.
    noise ACROSS groups, so unrelated images land a Binomial(64, 1/2)
    Hamming distance apart and the <=3 radius captures exactly the
    within-group structure. Variants v > 0 perturb ONE pixel
    ((x, y) = (v, v), red channel + 128 mod 256), a sub-percent pixel
    change that moves at most two dHash bits — the "re-encoded /
    slightly retouched image" case perceptual hashing exists for.
    (A linear gradient formula was tried first and rejected: mod-256
    pixels make any polynomial in the group id periodic with period
    256, so alias groups collide once the corpus exceeds 256 groups.)
    Mirrored term-for-term in the SQL oracle."""
    import hashlib

    import numpy as np

    g, v = doc_id // _DHASH_GROUP, doc_id % _DHASH_GROUP
    arr = np.empty((_DHASH_H, _DHASH_W, 3), np.uint8)
    for y in range(_DHASH_H):
        for x in range(_DHASH_W):
            hd = hashlib.md5(f"{g}:{x}:{y}".encode()).hexdigest()
            arr[y, x] = (int(hd[0:2], 16), int(hd[2:4], 16), int(hd[4:6], 16))
    if v > 0:
        arr[v, v, 0] = (int(arr[v, v, 0]) + 128) % 256
    return arr


def _dhash64(arr) -> str:
    """64-bit difference hash of an h x w x 3 uint8 array as 16 hex
    chars (nibble p = bits 4p..4p+3, MSB first) — the same signature
    representation as dedup_simhash64, so the pigeonhole Hamming
    machinery is shared verbatim."""
    import numpy as np

    px = arr.astype(np.int64)
    gray = 299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]
    # box dims from the array itself (any h % 8 == 0, w % 9 == 0
    # geometry hashes — the resize-invariance property needs the
    # same hash over the 18x16 original and its 9x8 downsample)
    h, w = gray.shape
    cells = gray.reshape(8, h // 8, 9, w // 9).sum(axis=(1, 3))
    bits = (cells[:, :-1] > cells[:, 1:]).astype(np.int64).reshape(-1)
    nib = bits.reshape(16, 4)
    nv = nib[:, 0] * 8 + nib[:, 1] * 4 + nib[:, 2] * 2 + nib[:, 3]
    return "".join("0123456789abcdef"[int(x)] for x in nv)


_SQL_DHASH_SIGS = f"""
    d AS (
        SELECT doc_id, doc_id // {_DHASH_GROUP} AS g,
               doc_id % {_DHASH_GROUP} AS v
        FROM documents
    ),
    pxh AS (
        SELECT doc_id, v, x.r AS x, y.r AS y,
               md5(CAST(g AS VARCHAR) || ':' || CAST(x.r AS VARCHAR)
                   || ':' || CAST(y.r AS VARCHAR)) AS hh
        FROM d,
             LATERAL (SELECT unnest(range({_DHASH_W})) AS r) x,
             LATERAL (SELECT unnest(range({_DHASH_H})) AS r) y
    ),
    px AS (
        SELECT doc_id, x, y,
               CASE WHEN v > 0 AND x = v AND y = v
                    THEN ((instr('0123456789abcdef', substring(hh, 1, 1)) - 1) * 16
                          + (instr('0123456789abcdef', substring(hh, 2, 1)) - 1)
                          + 128) % 256
                    ELSE (instr('0123456789abcdef', substring(hh, 1, 1)) - 1) * 16
                         + (instr('0123456789abcdef', substring(hh, 2, 1)) - 1)
                    END AS r,
               (instr('0123456789abcdef', substring(hh, 3, 1)) - 1) * 16
               + (instr('0123456789abcdef', substring(hh, 4, 1)) - 1) AS gc,
               (instr('0123456789abcdef', substring(hh, 5, 1)) - 1) * 16
               + (instr('0123456789abcdef', substring(hh, 6, 1)) - 1) AS bc
        FROM pxh
    ),
    cells AS (
        SELECT doc_id, x // 2 AS cx, y // 2 AS cy,
               SUM(299 * r + 587 * gc + 114 * bc) AS gsum
        FROM px GROUP BY doc_id, x // 2, y // 2
    ),
    bits AS (
        SELECT a.doc_id, a.cy * 8 + a.cx AS i,
               CASE WHEN a.gsum > b.gsum THEN 1 ELSE 0 END AS bit
        FROM cells a
        JOIN cells b ON b.doc_id = a.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
        WHERE a.cx < 8
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
               string_agg(substring('0123456789abcdef', CAST(nv AS INT) + 1, 1),
                          '' ORDER BY p) AS dhash64
        FROM nibs GROUP BY doc_id
    )"""


def _dhash_payloads_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload): genuine PNG bytes per document — groups of
    `_DHASH_GROUP` docs share one md5-derived base image (memoized
    per group), variants perturb one pixel. The synthesize stage
    shared by the signature build and the resize roundtrip."""
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def synthesize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        base_cache: dict = {}  # group id -> base pixels (4 docs share one)

        def img(did: int):
            g, v = did // _DHASH_GROUP, did % _DHASH_GROUP
            if g not in base_cache:
                base_cache[g] = _dhash_pixels(g * _DHASH_GROUP)
            arr = base_cache[g].copy()
            if v > 0:
                arr[v, v, 0] = (int(arr[v, v, 0]) + 128) % 256
            return arr

        for pdf in batches:
            rows = [
                (int(doc_id), _encode_png(img(int(doc_id))))
                for doc_id in pdf["doc_id"]
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return docs.mapInPandas(synthesize, "doc_id long, payload binary")


def _dhash_sigs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dhash64): the shared two-Arrow-stage signature build —
    synthesize genuine PNGs (`_dhash_payloads_df`) and decode them
    back through the real codec path to the 64-bit difference hash.
    Consumed by the pair query and the keeper query."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, arr = _parse_png(bytes(payload))
                if (w, h) != (_DHASH_W, _DHASH_H):
                    raise ValueError(f"unexpected dHash image geometry {w}x{h}")
                rows.append((int(doc_id), _dhash64(arr)))
            yield pd.DataFrame(rows, columns=["doc_id", "dhash64"])

    return _dhash_payloads_df(spark, sf_dir).mapInPandas(
        decode, "doc_id long, dhash64 string"
    )


@query(
    "multimodal_dhash_neardup",
    # the oracle replays pixel formula -> box gray sums -> difference
    # bits -> hex signature -> pigeonhole blocking -> exact Hamming,
    # all in integer SQL; the Spark side must recover the SAME bits
    # from genuine PNG bytes (encode -> CRC'd parse -> unfilter ->
    # dHash), so any codec or hash-arithmetic defect breaks the match
    oracle=f"""
    WITH {_SQL_DHASH_SIGS},
    {sql_pigeonhole_hamming("dhash64")}
    """,
    tags=("multimodal", "dedup", "llm", "udf", "image", "hamming"),
)
def multimodal_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup (round 10) — the missing cross of
    the multimodal and dedup pillars. The reference collapses each
    listing's `images` field to a bare count (CrawlData.py:87); a
    training-data pipeline needs the images themselves deduped, and
    byte-level hashing misses re-encoded/retouched copies, so the
    standard tool is a perceptual difference hash: shrink to a 9x8
    gray grid, emit one bit per horizontal neighbor compare. Pixel
    changes that don't flip brightness GRADIENTS leave the 64-bit
    signature within a few bits of the original.

    Pipeline: (1) Arrow stage synthesizes a genuine PNG per document
    — groups of 4 docs (`_DHASH_GROUP`) share a base image, variants
    perturb one pixel — via the shared `_encode_png` (CRC'd chunks,
    mixed row filters); (2) a second state-free Arrow stage decodes
    the container with the shared `_parse_png` and computes the
    dHash from recovered pixels (integer box sums, no float resize);
    (3) Hamming-<=3 pairs come from the SAME pigeonhole blocking as
    SimHash text near-dup (`pigeonhole_hamming_pairs`, dedup.py) —
    an equi-join on 16-bit signature blocks with exact popcount
    verification, recall 1.0 at the declared radius by construction.

    Scale: image bytes never shuffle (both Arrow stages are map-side;
    only (doc_id, 16-char signature) rows move); the pair stage is
    the proven bounded-bucket block join. A 100 TB image corpus swaps
    the synthesize stage for a binary-column scan and keeps stages
    2-3 as-is."""
    from bigdata_project_spark.caching import tracked_persist
    from bigdata_project_spark.operators.dedup import pigeonhole_hamming_pairs

    sigs = tracked_persist(_dhash_sigs_df(spark, sf_dir))
    return pigeonhole_hamming_pairs(sigs, "dhash64")


@query(
    "multimodal_dhash_dedup_keeper",
    # full-pipeline oracle: pixel formula -> dHash -> pigeonhole
    # edges -> recursive transitive closure -> keeper verdict
    oracle=f"""
    WITH RECURSIVE {_SQL_DHASH_SIGS},
    {sql_pigeonhole_ctes("dhash64")},
    edges AS ({sql_pigeonhole_verify()}),
    {sql_components("documents", "doc_id")}
    SELECT doc_id, component, component_reach,
           CAST(doc_id <> component AS INT) AS is_dup
    FROM comp
    """,
    tags=("multimodal", "dedup", "llm", "clustering", "image", "iterative"),
)
def multimodal_dhash_dedup_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-level dedup VERDICT — the act-on-audit half of
    multimodal_dhash_neardup, closing the same audit->enforce pattern
    as qa_split_leakage -> split_cluster_aware_assign: perceptual
    near-dup pairs become transitive clusters via the shared
    `clustering.components`, each image inherits its component keeper
    (min doc_id), and is_dup marks the copies a training manifest
    drops. Every image gets a verdict row.

    Scale: the pair stage is the bounded pigeonhole block join."""
    from bigdata_project_spark.caching import tracked_persist
    from bigdata_project_spark.operators.dedup import pigeonhole_hamming_pairs

    docs = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    sigs = tracked_persist(_dhash_sigs_df(spark, sf_dir))
    comp = components(docs, pigeonhole_hamming_pairs(sigs, "dhash64"))
    sigs.unpersist()
    return with_reach(comp).select(
        F.col("id").alias("doc_id"),
        "component",
        "component_reach",
        (F.col("id") != F.col("component")).cast("int").alias("is_dup"),
    )


# --------------------------------------------- real integer PNG resize

_SQL_DHASH_RESIZE = f"""
    rpx AS (
        SELECT doc_id, x // 2 AS cx, y // 2 AS cy,
               SUM(r) // 4 AS r2, SUM(gc) // 4 AS g2, SUM(bc) // 4 AS b2
        FROM px GROUP BY doc_id, x // 2, y // 2
    ),
    cells2 AS (
        SELECT doc_id, cx, cy, 299 * r2 + 587 * g2 + 114 * b2 AS gsum
        FROM rpx
    ),
    bits2 AS (
        SELECT a.doc_id, a.cy * 8 + a.cx AS i,
               CASE WHEN a.gsum > b.gsum THEN 1 ELSE 0 END AS bit
        FROM cells2 a
        JOIN cells2 b ON b.doc_id = a.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
        WHERE a.cx < 8
    ),
    nibs2 AS (
        SELECT doc_id, i // 4 AS p,
               SUM(bit * CASE CAST(i % 4 AS INT)
                         WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2
                         ELSE 1 END) AS nv
        FROM bits2 GROUP BY doc_id, i // 4
    ),
    sigs2 AS (
        SELECT doc_id,
               string_agg(substring('0123456789abcdef', CAST(nv AS INT) + 1, 1),
                          '' ORDER BY p) AS dhash_resized
        FROM nibs2 GROUP BY doc_id
    ),
    rstats AS (
        SELECT doc_id, CAST(SUM(r2) AS BIGINT) AS sum_r,
               CAST(SUM(g2) AS BIGINT) AS sum_g,
               CAST(SUM(b2) AS BIGINT) AS sum_b
        FROM rpx GROUP BY doc_id
    )"""


@query(
    "multimodal_png_resize",
    # end-to-end formula oracle: pixel formula -> 2x2 integer box
    # floor-average -> resized channel sums AND the resized image's
    # dHash -> nibble-popcount Hamming to the original's dHash. The
    # Spark side must recover all of it from a real PNG decode ->
    # downsample -> re-encode -> re-decode roundtrip, so a defect in
    # either codec direction or the resize arithmetic breaks values.
    oracle=f"""
    WITH {_SQL_DHASH_SIGS},
    {_SQL_DHASH_RESIZE}
    SELECT s.doc_id,
           {_DHASH_W // 2} AS width, {_DHASH_H // 2} AS height,
           st.sum_r, st.sum_g, st.sum_b,
           s.dhash64 AS dhash_orig, s2.dhash_resized,
           CAST((SELECT SUM(bit_count(xor(
                instr('0123456789abcdef', substring(s.dhash64, i.i, 1)) - 1,
                instr('0123456789abcdef', substring(s2.dhash_resized, i.i, 1)) - 1)))
            FROM (SELECT unnest(range(1, 17)) AS i) i) AS BIGINT) AS hamming
    FROM sigs s
    JOIN sigs2 s2 USING (doc_id)
    JOIN rstats st USING (doc_id)
    """,
    tags=("multimodal", "udf", "image", "resize", "llm"),
)
def multimodal_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real integer image resize over the PNG codec path — the
    promotion of `multimodal_resize_plan` from a plan to pixels. Per
    document: decode the genuine PNG (CRC'd parse, five-filter
    unfilter), 2x2 integer box downsample (per-channel floor average
    — pure integer, no float kernel, so DuckDB replays it exactly),
    re-encode the 9x8 result as a fresh PNG, decode THAT, and emit
    channel sums plus the resized image's dHash and its Hamming
    distance to the original's — the resize-invariance property
    perceptual hashing promises, VALUE-ORACLED per image (testbed
    distances are 0-2 bits, within the <=3 dedup radius; the dHash
    box geometry adapts to the array, 2x2 boxes at 18x16, 1x1 at
    9x8, so both hashes come from the same code path).

    Scale: both Arrow stages are map-side (image bytes never
    shuffle); only (doc_id, 2 hex sigs, 5 ints) rows leave the
    second stage. The roundtrip re-encode is the honest cost of
    writing resized images back to a lake — the stage a 100 TB
    image pipeline runs anyway."""
    import numpy as np

    def resize_roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "doc_id", "width", "height", "sum_r", "sum_g", "sum_b",
            "dhash_orig", "dhash_resized", "hamming",
        ]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, arr = _parse_png(bytes(payload))
                d0 = _dhash64(arr)
                a = arr.astype(np.int64)
                small = (
                    a.reshape(h // 2, 2, w // 2, 2, 3).sum(axis=(1, 3)) // 4
                ).astype(np.uint8)
                w2, h2, arr2 = _parse_png(_encode_png(small))
                if (w2, h2) != (w // 2, h // 2):
                    raise ValueError(f"resize roundtrip geometry {w2}x{h2}")
                d1 = _dhash64(arr2)
                px = arr2.astype(np.int64)
                rows.append(
                    (
                        int(doc_id), w2, h2,
                        int(px[:, :, 0].sum()),
                        int(px[:, :, 1].sum()),
                        int(px[:, :, 2].sum()),
                        d0, d1,
                        bin(int(d0, 16) ^ int(d1, 16)).count("1"),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return _dhash_payloads_df(spark, sf_dir).mapInPandas(
        resize_roundtrip,
        "doc_id long, width int, height int, sum_r long, sum_g long,"
        " sum_b long, dhash_orig string, dhash_resized string, hamming long",
    )
