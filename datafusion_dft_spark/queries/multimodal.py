"""Multimodal pipeline queries: binary columns through Arrow-batched UDFs.

``multimodal_features`` runs the full pipeline — text → binary payload
→ mapInArrow feature extraction — and is oracle-checked because the
stand-in features are exact byte math DuckDB can reproduce from the
source text (ASCII corpus: octet length == char length, checksum8 =
sum of the first 8 code points).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..operators import multimodal as mm
from ..registry import query


@query(
    "multimodal_features",
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   strlen(text) AS byte_len,
                   CAST(list_sum([ascii(substr(text, i, 1))
                                  for i in range(1, least(strlen(text), 8) + 1)]) AS BIGINT) AS checksum8,
                   CAST(ceil(strlen(text) / 256.0) AS BIGINT) AS n_frames,
                   CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS img_format,
                   doc_id % 317 + 1 AS img_width,
                   doc_id % 211 + 1 AS img_height,
                   CASE WHEN doc_id % 2 = 0
                        THEN CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END
                        ELSE CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END
                   END AS img_channels,
                   CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'flac' END AS aud_format,
                   CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        WHEN 2 THEN 22050 ELSE 44100 END AS aud_rate,
                   doc_id % 2 + 1 AS aud_channels,
                   CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS aud_bits,
                   doc_id % 1000 + 1 AS aud_samples,
                   'mp4' AS vid_format,
                   CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS vid_brand,
                   CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
                        WHEN 2 THEN 44100 ELSE 90000 END AS vid_timescale,
                   doc_id % 100000 + 1 AS vid_duration,
                   doc_id % 3 + 1 AS vid_tracks
            FROM documents
        )
        SELECT doc_id, byte_len, checksum8, n_frames,
               count(*) OVER (PARTITION BY n_frames) AS n_docs_same_frames,
               img_format, img_width, img_height, img_channels,
               aud_format, aud_rate, aud_channels, aud_bits, aud_samples,
               aud_samples * 1000 // aud_rate AS aud_ms,
               vid_format, vid_brand, vid_timescale, vid_duration,
               vid_duration * 1000 // vid_timescale AS vid_ms,
               vid_tracks
        FROM base
    """,
    tags=("multimodal", "pandas-udf"),
    doc="Binary-column pipeline, extraction and frame sampling in one query "
    "(consolidated for the driver's 50-query cap): encode payload -> "
    "mapInArrow feature extraction (extract_features), plus the built-in "
    "frame-sampling path (explode into 256-byte frames, count per doc) "
    "joined back as a frames-histogram column. Deterministic byte features "
    "keep it oracle-checkable. The img_* columns are a REAL header decode: "
    "structurally valid PNG/JPEG bytes are planted JVM-side (plant_images "
    "— real IHDR CRC32, real JFIF marker layout) and the Arrow stage "
    "parses format/width/height/channels back OUT of the magic bytes; the "
    "oracle recomputes the planted dimension formulas independently, so a "
    "planting/parsing disagreement on either side fails the row. The "
    "aud_* columns are the same pattern for AUDIO: spec-valid RIFF/WAVE "
    "PCM headers (even ids — true little-endian chunk layout, declared "
    "data size encoding the sample count) and FLAC fLaC+STREAMINFO blocks "
    "(odd ids — bit-packed rate/channels/bits/36-bit total samples per the "
    "xiph spec) are planted JVM-side (plant_audio) and parsed back OUT in "
    "the SAME Arrow stage; aud_ms is exact integer math (samples*1000 div "
    "rate) on both engines. The vid_* columns complete the modality set "
    "with VIDEO container structure: spec-valid MP4/ISO-BMFF boxes planted "
    "JVM-side (plant_video — true 108-byte mvhd v0, per-track 92-byte tkhd "
    "v0) and brand/timescale/duration/track-count walked back out of the "
    "box tree (O(#boxes) via declared sizes, moov-at-end retry), again in "
    "the SAME Arrow stage. The vectorized header kernels are pinned row by "
    "row to the scalar parse_image_header / parse_audio_header / "
    "parse_video_header over planted, real-fixture and adversarial "
    "corpora in tests/test_multimodal.py.",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    binary = mm.plant_video(
        mm.plant_audio(
            mm.plant_images(
                mm.to_binary_table(docs, "doc_id", "text"), "doc_id", "image"
            ),
            "doc_id",
            "audio",
        ),
        "doc_id",
        "video",
    )
    # one mapInArrow stage decodes all three headers
    feats = mm.extract_features(
        binary, image_col="image", audio_col="audio", video_col="video"
    )
    # Frame path: built-in explode chunking -> per-doc frame count -> histogram.
    frames = mm.sample_frames(binary)
    per_doc = frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))
    hist = per_doc.groupBy("nf").agg(F.count(F.lit(1)).alias("n_docs_same_frames"))
    return feats.join(
        F.broadcast(hist), feats["n_frames"] == hist["nf"], "left"
    ).select(
        "doc_id", "byte_len", "checksum8", "n_frames", "n_docs_same_frames",
        "img_format", "img_width", "img_height", "img_channels",
        "aud_format", "aud_rate", "aud_channels", "aud_bits", "aud_samples",
        "aud_ms",
        "vid_format", "vid_brand", "vid_timescale", "vid_duration",
        "vid_ms", "vid_tracks",
    )
