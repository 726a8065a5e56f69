"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched pandas UDFs.

Image decoding is REAL for the stdlib-decodable formats (PNM/BMP/PNG —
operators/imaging.py, pure Python + numpy + zlib): `decode_image` and
`extract_image_features` compute pixel statistics from actual bytes.
Codec-needing formats (JPEG/TIFF/GIF/webp) route to the TYPED ERROR
CHANNEL — an error string per asset, never a silent wrong answer.
Audio/video decode remains stubbed (no codec in this environment): the
deterministic fake decoder (seeded from the payload hash, `fake=True`)
keeps the Spark-side plumbing (schemas, mapInPandas batching, partition
sizing) real and tested for those modalities.

Scale notes: binary payloads ride in the same row as metadata; operators
select ONLY the columns they need (nested-schema pruning keeps a
metadata-only query from reading payload bytes), and mapInPandas streams
Arrow batches so one oversized asset never materializes a whole partition.
"""

from __future__ import annotations

import hashlib
import struct
from zlib import error as zlib_error

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURES_SCHEMA = (
    "asset_id string, doc_id string, media_type string, "
    "feature_version int, features array<float>"
)


def _fake_decode(payload: bytes, dims: int = 8) -> list[float]:
    """Deterministic stand-in for a real decoder: payload hash -> unit floats."""
    h = hashlib.sha256(payload or b"").digest()
    return [
        struct.unpack(">I", h[i * 4 : i * 4 + 4])[0] / 2**32 for i in range(dims)
    ]


def decode_image(payload: bytes, fake: bool = False):
    """Feature vector for an image payload: fake=True keeps the
    deterministic sha256 stand-in (the fixture path); fake=False
    decodes REAL pixels for PNM/BMP/PNG (operators/imaging.py) and
    raises imaging.UnsupportedImageError (a NotImplementedError) for
    formats needing a codec this environment lacks."""
    if fake:
        return _fake_decode(payload)
    from horus_spark.operators.imaging import decode_pixels, image_features

    return image_features(decode_pixels(payload))


def extract_features(media: DataFrame, dims: int = 8, fake: bool = True) -> DataFrame:
    """Binary payloads -> fixed-width feature vectors via mapInPandas
    (Arrow-batched; zero per-row Python outside the batch loop)."""

    def batches(it):
        for pdf in it:
            feats = [decode_image(p, fake=fake) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "feature_version": 1,
                    "features": feats,
                }
            )

    cols = ["asset_id", "doc_id", "media_type", "payload"]
    return media.select(*cols).mapInPandas(batches, schema=FEATURES_SCHEMA)


IMAGE_FEATURES_SCHEMA = (
    "asset_id string, doc_id string, format string, width int, "
    "height int, channels int, features array<double>, error string"
)


def extract_image_features(media: DataFrame) -> DataFrame:
    """REAL pixel features via mapInPandas: per asset, decode the
    payload (imaging.decode_pixels — PNM/BMP/PNG) and emit the 8-dim
    imaging.image_features vector [w, h, c, mean_c0..c2, luma_mean,
    luma_std] plus sniffed format and dimensions. Assets in
    codec-needing formats (jpeg/tiff/...) or malformed payloads keep
    their row with NULL features and the reason in `error` — presence
    is signal, and count(error IS NOT NULL) is the undecodable rate.

    Features are float64 (array<double>): channel means of
    constant-color images are exact integers there, which is what lets
    the q192 oracle replay the whole decode in SQL arithmetic.

    Scale shape: one mapInPandas over (ids, payload) — Arrow-batched,
    zero per-row Python outside the batch loop, no shuffle; decode
    cost is embarrassingly parallel and skew is bounded by payload
    size, not row count."""
    from horus_spark.operators.imaging import (
        decode_pixels,
        image_features,
        sniff_format,
    )

    def batches(it):
        for pdf in it:
            out = {
                "asset_id": pdf["asset_id"],
                "doc_id": pdf["doc_id"],
                "format": [], "width": [], "height": [],
                "channels": [], "features": [], "error": [],
            }
            for p in pdf["payload"]:
                b = bytes(p) if p is not None else b""
                out["format"].append(sniff_format(b))
                try:
                    px = decode_pixels(b)
                    h, w, c = px.shape
                    out["width"].append(w)
                    out["height"].append(h)
                    out["channels"].append(c)
                    out["features"].append(image_features(px))
                    out["error"].append(None)
                except NotImplementedError as e:
                    out["width"].append(None)
                    out["height"].append(None)
                    out["channels"].append(None)
                    out["features"].append(None)
                    out["error"].append(f"unsupported:{e}")
                except (ValueError, zlib_error) as e:
                    out["width"].append(None)
                    out["height"].append(None)
                    out["channels"].append(None)
                    out["features"].append(None)
                    out["error"].append(f"malformed:{e}")
            # nullable Int32: plain int lists with Nones become float64
            # NaN columns, which Arrow refuses to cast to int
            for k in ("width", "height", "channels"):
                out[k] = pd.array(out[k], dtype="Int32")
            yield pd.DataFrame(out)

    cols = ["asset_id", "doc_id", "payload"]
    return media.select(*cols).mapInPandas(
        batches, schema=IMAGE_FEATURES_SCHEMA
    )


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: one row per sampled timestamp (the decode
    of each frame is the stubbed step; the EXPLODED plan shape is real).
    Pure expressions — no Python."""
    n_frames = F.greatest(
        (F.col("meta.duration_ms") / every_ms).cast("int"), F.lit(1)
    )
    return media.filter(F.col("media_type") == "video").select(
        "asset_id",
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_frames - 1),
                lambda i: (i * every_ms).cast("int"),
            )
        ).alias("frame_ts_ms"),
    )


def media_stats(media: DataFrame, include_payload_bytes: bool = False) -> DataFrame:
    """Per-media-type asset stats.

    Default is METADATA-ONLY: the aggregate touches media_type and meta
    exclusively, so a parquet-backed frame's scan prunes the payload
    column entirely (ReadSchema excludes 'payload' — asserted by
    tests/test_multimodal_streaming.py). That is the shape a catalog
    query over 100 TB of binary assets must have: stats without I/O on
    the blobs.

    include_payload_bytes=True adds total_bytes = sum(length(payload)),
    which necessarily READS every payload byte — an explicit opt-in full
    scan, never the default. (Producers that need cheap size stats should
    persist a size field in `meta` at ingest.)"""
    aggs = [
        F.count("*").alias("n_assets"),
        F.avg("meta.width").alias("avg_width"),
    ]
    if include_payload_bytes:
        aggs.insert(1, F.sum(F.length("payload")).alias("total_bytes"))
    return media.groupBy("media_type").agg(*aggs)
