"""Driver-facing multimodal queries: the binary-column decode stack
(reference-extension: image/audio as opaque binary + typed metadata,
task-brief multimodal requirement) driven through the DuckDB oracle gate.

The decode operator itself (`operators.multimodal.decode_media_metadata`)
is a pure-Python header parser behind Arrow-batched ``mapInPandas`` — the
exact plumbing a real codec-backed decoder would use at 100 TB (binary
columns never pass through the JVM row format; one task decodes one Arrow
batch). The certificate plants containers whose headers are arithmetic in
``doc_id``, so the decoded metadata has an exact SQL oracle, and one
branch plants GARBAGE bytes to certify the row-level error channel (a bad
blob must yield an err row, never a task failure).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from utils_spark.io import load_table
from utils_spark.registry import register


def _wav(ch: int, data_size: int, data: bytes = b"") -> bytes:
    """PCM16 8 kHz WAV blob: RIFF header, fmt chunk, then the data chunk
    (header declaring ``data_size`` bytes, followed by ``data``)."""
    return (
        b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, 8000, 16000 * ch, 2 * ch, 16)
        + b"data" + struct.pack("<I", data_size) + data
    )


def _planted_blobs(spark: SparkSession, sf_dir: str, blob) -> DataFrame:
    """(media_id, content) with content = ``blob(doc_id)`` for every
    document, generated Arrow-batched through ``mapInPandas`` (certificate
    scaffolding, not a hot-path operator — the operators under test decode
    these blobs)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    ids = load_table(spark, sf_dir, "documents").select(F.col("doc_id").cast("long"))

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = [{"media_id": int(d), "content": blob(int(d))} for d in pdf["doc_id"]]
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    schema = StructType(
        [StructField("media_id", LongType()), StructField("content", BinaryType())]
    )
    return ids.mapInPandas(gen, schema)


def _planted_media(spark: SparkSession, sf_dir: str, content_mod: int | None = None) -> DataFrame:
    """(media_id, content) with deterministic PPM/PGM/BMP/WAV/garbage blobs
    derived from documents.doc_id. With ``content_mod``, content depends
    only on doc_id % content_mod, planting exact-duplicate classes for the
    dedup certificate."""

    def blob(mid: int) -> bytes:
        d = mid % content_mod if content_mod else mid
        branch = d % 4
        if branch == 0:  # PPM (P6): ASCII header
            w, h = d % 31 + 1, d % 17 + 1
            return f"P6 {w} {h} 255\n".encode()
        if branch == 1:  # PGM (P5)
            w, h = d % 23 + 2, d % 13 + 1
            return f"P5 {w} {h} 255\n".encode()
        if branch == 2:  # BMP: file header + BITMAPINFOHEADER
            w, h = d % 63 + 1, d % 29 + 1
            return struct.pack("<2sIHHI", b"BM", 54, 0, 0, 54) + struct.pack(
                "<IiiHH", 40, w, h, 1, 24
            )
        if d % 5 == 0:  # planted corrupt blob -> err row
            return b"GARBAGE!" + bytes([d % 251])
        # WAV with an empty data chunk: byte_rate * dur / 1000 data bytes declared
        ch = d % 2 + 1
        return _wav(ch, 16 * ch * (d % 50 + 1) * 10)

    return _planted_blobs(spark, sf_dir, blob)


@register(
    "multimodal_decode_certificate",
    # every header field is arithmetic in doc_id, so the decode has an
    # exact cross-engine oracle; the doc_id%4==3 && doc_id%5==0 branch is
    # planted garbage whose metadata must be all-NULL with ok=false —
    # certifying that a corrupt blob becomes an err ROW, not a task death
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS media_id,
      CASE doc_id % 4
        WHEN 0 THEN 'ppm' WHEN 1 THEN 'pgm' WHEN 2 THEN 'bmp'
        ELSE CASE WHEN doc_id % 5 = 0 THEN NULL ELSE 'wav' END END AS fmt,
      CAST(CASE doc_id % 4
        WHEN 0 THEN doc_id % 31 + 1 WHEN 1 THEN doc_id % 23 + 2
        WHEN 2 THEN doc_id % 63 + 1 ELSE NULL END AS INTEGER) AS width,
      CAST(CASE doc_id % 4
        WHEN 0 THEN doc_id % 17 + 1 WHEN 1 THEN doc_id % 13 + 1
        WHEN 2 THEN doc_id % 29 + 1 ELSE NULL END AS INTEGER) AS height,
      CAST(CASE doc_id % 4
        WHEN 0 THEN 3 WHEN 1 THEN 1 WHEN 2 THEN 3
        ELSE CASE WHEN doc_id % 5 = 0 THEN NULL ELSE doc_id % 2 + 1 END
        END AS INTEGER) AS channels,
      CAST(CASE WHEN doc_id % 4 = 3 AND doc_id % 5 <> 0 THEN 8000 END AS INTEGER) AS sample_rate,
      CAST(CASE WHEN doc_id % 4 = 3 AND doc_id % 5 <> 0
                THEN (doc_id % 50 + 1) * 10 END AS BIGINT) AS duration_ms,
      NOT (doc_id % 4 = 3 AND doc_id % 5 = 0) AS ok
    FROM documents
    """,
    tags=("multimodal", "mapInPandas", "certificate"),
)
def multimodal_decode_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata decode certificate: planted PPM/PGM/BMP/WAV
    headers (+ garbage blobs) through the REAL Arrow-batched pure-Python
    decoder (`decode_media_metadata`); every decoded field must equal its
    doc_id arithmetic and every garbage blob must surface as an err row.
    Compressed codecs (JPEG/PNG/video) remain honestly stubbed — no codec
    libraries in this environment."""
    from utils_spark.operators.multimodal import decode_media_metadata

    decoded = decode_media_metadata(_planted_media(spark, sf_dir))
    return decoded.select(
        "media_id",
        "fmt",
        "width",
        "height",
        "channels",
        "sample_rate",
        "duration_ms",
        F.col("err").isNull().alias("ok"),
    )


@register(
    "media_dedup_certificate",
    # content is keyed to doc_id % 40, so every duplicate class, its copy
    # count, and its canonical (min) media id are pure doc_id arithmetic;
    # feat_variants == 1 certifies the Arrow-batched feature extractor is
    # content-deterministic (identical blobs -> identical feature vectors)
    oracle="""
    WITH cls AS (SELECT doc_id % 40 AS k FROM documents)
    SELECT CAST(k AS BIGINT) AS canonical_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(1 AS BIGINT) AS feat_variants
    FROM cls GROUP BY k HAVING COUNT(*) > 1
    """,
    tags=("multimodal", "dedup", "certificate"),
)
def media_dedup_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media content-dedup + feature-determinism certificate: blobs are
    planted in exact-duplicate classes (content = f(doc_id % 40)), so
    `media_dedup_by_content` (binary-safe md5 hash-groupBy, the media twin
    of exact text dedup) must report each class's copy count and min-id
    canonical exactly, and `extract_media_features` must produce exactly
    ONE distinct feature vector per class — both through the real
    Arrow-batched operators."""
    from utils_spark.operators.multimodal import (
        extract_media_features,
        media_dedup_by_content,
    )

    media = _planted_media(spark, sf_dir, content_mod=40).withColumn(
        "media_type", F.lit("media")
    )
    dups = media_dedup_by_content(media).select(
        F.col("canonical_id").cast("long").alias("canonical_id"),
        F.col("n_copies").cast("long").alias("n_copies"),
    )
    feats = extract_media_features(media)
    variants = (
        feats.withColumn("k", F.pmod(F.col("media_id"), F.lit(40)))
        .groupBy("k")
        .agg(
            F.countDistinct(
                F.concat_ws(",", F.transform("features", lambda x: x.cast("string")))
            ).alias("feat_variants")
        )
    )
    return dups.join(variants, dups.canonical_id == variants.k).select(
        "canonical_id", "n_copies", F.col("feat_variants").cast("long").alias("feat_variants")
    )


@register(
    "video_frame_sampling",
    # frame enumeration is sequence arithmetic: a video of duration d with
    # 1000 ms sampling yields floor(d/1000)+1 frames with sum ts =
    # 1000 * (0 + 1 + ... + n-1); both closed-form in doc_id
    oracle="""
    WITH v AS (
      SELECT doc_id, (doc_id % 20 + 1) * 1500 AS duration_ms
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(duration_ms // 1000 + 1 AS BIGINT) AS n_frames,
           CAST(1000 * ((duration_ms // 1000) * (duration_ms // 1000 + 1) / 2) AS BIGINT) AS ts_checksum
    FROM v
    """,
    tags=("multimodal", "video", "frames", "certificate"),
)
def video_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling certificate (the partition-parallel frame
    ENUMERATION is real Spark; per-frame pixel decode stays honestly
    stubbed — no codecs in env): planted videos with arithmetic durations
    through `sample_video_frames` (sequence/explode every 1000 ms) must
    yield the closed-form frame count and timestamp checksum per video."""
    from utils_spark.operators.multimodal import sample_video_frames

    v = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select(
            F.col("doc_id").cast("long").alias("media_id"),
            F.lit("video").alias("media_type"),
            ((F.col("doc_id") % 20 + 1) * 1500).cast("long").alias("duration_ms"),
        )
    )
    frames = sample_video_frames(v, every_ms=1000)
    return frames.groupBy("media_id").agg(
        F.count("*").alias("n_frames"),
        F.sum("frame_ts_ms").cast("long").alias("ts_checksum"),
    )


def _planted_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, content) PCM16 WAV blobs with REAL sample data: every doc
    becomes a mono/stereo 8 kHz clip of (doc_id % 50 + 1)*10 ms whose
    interleaved samples are s(frame n, channel c) =
    ((n*7 + c*3 + doc_id) % 256 - 128) * 64 — pure integer arithmetic an
    SQL oracle reproduces exactly."""
    import numpy as np

    def blob(d: int) -> bytes:
        ch = d % 2 + 1
        frames = 8 * (d % 50 + 1) * 10  # 8 kHz
        n = np.arange(frames).reshape(-1, 1)
        c = np.arange(ch).reshape(1, -1)
        data = (((n * 7 + c * 3 + d) % 256 - 128) * 64).astype("<i2").reshape(-1).tobytes()
        return _wav(ch, len(data), data)

    return _planted_blobs(spark, sf_dir, blob)


@register(
    "audio_energy_certificate",
    # every PCM sample is arithmetic in (frame, channel, doc_id), so each
    # 100 ms window's integer sum-of-squares and peak have an exact SQL
    # twin: the oracle regenerates the same samples with range() and
    # aggregates — certifying RIFF walk, int16 LE decode, interleaved
    # channel split, and window segmentation (incl. the short tail window)
    oracle="""
    WITH wav AS (
      SELECT doc_id AS media_id, doc_id % 2 + 1 AS ch,
             8 * ((doc_id % 50 + 1) * 10) AS n_frames
      FROM documents
    ),
    samp AS (
      SELECT media_id, t.n AS n, c.c AS channel, n_frames
      FROM wav, UNNEST(range(0, n_frames)) t(n), UNNEST(range(0, ch)) c(c)
    ),
    vals AS (
      SELECT media_id, CAST(channel AS INT) AS channel,
             CAST(n // 800 AS INT) AS window_idx,
             ((n * 7 + channel * 3 + media_id) % 256 - 128) * 64 AS s
      FROM samp
    )
    SELECT CAST(media_id AS BIGINT) AS media_id, window_idx, channel,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(s * s) AS BIGINT) AS sum_sq,
           CAST(MAX(ABS(s)) AS INT) AS peak
    FROM vals GROUP BY media_id, window_idx, channel
    """,
    tags=("multimodal", "audio", "mapInPandas", "certificate"),
)
def audio_energy_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction through the REAL PCM path: every document
    becomes a PCM16 WAV clip with planted deterministic samples, and
    `audio_energy_windows` must recover each 100 ms window's exact integer
    sum-of-squares and peak per channel — certifying the RIFF chunk walk,
    little-endian int16 decode, interleaved-channel deinterleave, and
    window segmentation (including the final short window) against an SQL
    oracle that regenerates the identical samples arithmetically.

    Scale shape: generation and decode are both Arrow-batched map-only
    stages; nothing shuffles until the (tiny) certificate aggregation.
    This is the audio twin of `multimodal_decode_certificate` — metadata
    there, sample-level signal processing here."""
    from utils_spark.operators.multimodal import audio_energy_windows

    media = _planted_audio(spark, sf_dir)
    return audio_energy_windows(media, window_ms=100)


def _planted_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, content) P6 PPM blobs with REAL raster data: every doc
    becomes a (doc_id % 31 + 1) × (doc_id % 17 + 1) RGB image whose pixel
    at column x, row y, channel c is (3x + 5y + 7c + doc_id) % 256 — pure
    integer arithmetic an SQL oracle regenerates exactly."""
    import numpy as np

    def blob(d: int) -> bytes:
        w, h = d % 31 + 1, d % 17 + 1
        x = np.arange(w).reshape(1, -1, 1)
        y = np.arange(h).reshape(-1, 1, 1)
        c = np.arange(3).reshape(1, 1, -1)
        img = ((3 * x + 5 * y + 7 * c + d) % 256).astype(np.uint8)
        return f"P6 {w} {h} 255\n".encode() + img.tobytes()

    return _planted_blobs(spark, sf_dir, blob)


@register(
    "image_stats_certificate",
    # every pixel is arithmetic in (x, y, channel, doc_id), so each
    # channel's integer sum/min/max and the stride-2 subsample sum have an
    # exact SQL twin — certifying the P6 header parse (incl. the
    # one-whitespace rule), raster reshape, channel split, and the resize
    # primitive
    oracle="""
    WITH dims AS (
      SELECT doc_id AS media_id, doc_id % 31 + 1 AS w, doc_id % 17 + 1 AS h
      FROM documents
    ),
    px AS (
      SELECT media_id, w, h, t.x AS x, u.y AS y, c.c AS channel,
             (3 * t.x + 5 * u.y + 7 * c.c + media_id) % 256 AS v
      FROM dims, UNNEST(range(0, w)) t(x), UNNEST(range(0, h)) u(y),
           UNNEST(range(0, 3)) c(c)
    )
    SELECT CAST(media_id AS BIGINT) AS media_id, CAST(channel AS INT) AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_val,
           CAST(MIN(v) AS INT) AS min_val,
           CAST(MAX(v) AS INT) AS max_val,
           CAST(SUM(CASE WHEN x % 2 = 0 AND y % 2 = 0 THEN v ELSE 0 END) AS BIGINT)
             AS stride2_sum
    FROM px GROUP BY media_id, channel
    """,
    tags=("multimodal", "image", "mapInPandas", "certificate"),
)
def image_stats_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image processing through the REAL raster path: every document
    becomes a P6 PPM with planted deterministic pixels, and
    `image_channel_stats` must recover each channel's exact integer
    sum/min/max plus the stride-2 (nearest-neighbor downscale) sum —
    certifying the header parse, (h, w, 3) reshape, channel deinterleave,
    and the resize primitive against an SQL oracle that regenerates the
    identical pixels arithmetically. The image twin of
    `audio_energy_certificate`; compressed codecs (JPEG/PNG) remain
    honestly env-stubbed.

    Scale shape: generation and decode are Arrow-batched map-only; output
    is 3 rows per image regardless of resolution; only the certificate
    aggregation shuffles."""
    from utils_spark.operators.multimodal import image_channel_stats

    media = _planted_images(spark, sf_dir)
    return image_channel_stats(media)
