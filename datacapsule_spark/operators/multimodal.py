"""Multimodal column plumbing: binary payloads + typed metadata.

Images / audio / video ride as opaque `binary` columns with a metadata
struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched `mapInPandas` stages.

Decode is REAL for the uncompressed member of each media family
(operators/media_codecs.py: WAV/PCM16 audio, PPM + BMP images,
YUV4MPEG2 video — all public formats, parsed with numpy alone).
Compressed formats (JPEG/PNG/MP4/MP3) genuinely require codec
libraries that are absent in this container; their decode raises
NotImplementedError with the format name, and the row-level error
handling below turns that into an `err` column instead of a dead job
(default) — at 100 TB one undecodable blob must not kill the stage.

At scale: binary payloads are the bandwidth cost; the plan keeps them
out of every shuffle (metadata-only projections until the final
mapInPandas, frame-sampling decodes in place with an O(1) byte seek
rather than joining sampled timestamps back to payloads) and spreads
payloads by hash so one 4K video doesn't skew a task.

Reference parity: the reference (loukie7/Datacapsule) has no media
surface; this family is training-data-pipeline scope.
"""

from __future__ import annotations

from collections.abc import Iterator

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from datacapsule_spark.operators import media_codecs as mc

MEDIA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), False),
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

MEDIA_FEATURES = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("payload_sha256", StringType(), False),
        StructField("payload_bytes", LongType(), False),
        StructField("features", ArrayType(FloatType()), True),
    ]
)

DECODED_FEATURES = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("mime", StringType(), True),
        StructField("payload_bytes", LongType(), False),
        StructField("ok", StringType(), False),  # "ok" | "error"
        StructField("err", StringType(), True),
        # double, not float: the kernels compute in float64 and the
        # closed-form oracles (queries.multimodal_*) compare bit-level
        # after round(6) — float32 storage would shift values like
        # n/8000 off the decimal grid. 5-8 doubles/row is noise.
        StructField("features", ArrayType(DoubleType()), True),
    ]
)

FRAME_SAMPLES = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("sample_ts_ms", LongType(), False),
        StructField("mean_luma", FloatType(), False),
        StructField("motion", FloatType(), True),  # vs previous sample
    ]
)

# mime → decode family. Compressed formats are present in the map so the
# error message names the missing codec, not "unknown mime".
_IMAGE_RAW = {"image/x-portable-pixmap", "image/ppm", "image/bmp", "image/x-bmp"}
_AUDIO_RAW = {"audio/wav", "audio/x-wav", "audio/wave"}
_VIDEO_RAW = {"video/x-yuv4mpeg", "video/y4m"}
_COMPRESSED = {
    "image/png",
    "image/jpeg",
    "image/webp",
    "audio/mpeg",
    "audio/flac",
    "audio/ogg",
    "video/mp4",
    "video/webm",
    "video/x-matroska",
}


def decode_media(mime: str, payload: bytes) -> tuple[str, object]:
    """bytes → ("image", (h,w,3) uint8) | ("audio", (rate, float32 pcm))
    | ("video", y4m info dict). Raises NotImplementedError for formats
    whose codecs are absent, ValueError for unknown/corrupt payloads."""
    m = (mime or "").lower()
    if m in _IMAGE_RAW:
        img = mc.decode_ppm(payload) if payload[:2] == b"P6" else mc.decode_bmp(payload)
        return "image", img
    if m in _AUDIO_RAW:
        return "audio", mc.decode_wav(payload)
    if m in _VIDEO_RAW:
        return "video", mc.y4m_info(payload)
    if m in _COMPRESSED:
        raise NotImplementedError(f"{m} decode requires codec libs absent in this container")
    raise ValueError(f"unknown media mime {mime!r}")


def _video_features(payload: bytes, info: dict, max_samples: int = 8) -> list[float]:
    """[duration_s, fps, n_frames, mean_luma, motion] over ≤max_samples
    evenly spaced frames — each an O(1) seek, never a full decode."""
    n = info["n_frames"]
    fps = info["fps_num"] / info["fps_den"]
    duration = n / fps if fps else 0.0
    k = min(n, max_samples)
    idxs = sorted({(j * max(n - 1, 0)) // max(k - 1, 1) for j in range(k)})
    lumas, motions = [], []
    prev = None
    for i in idxs:
        frame = mc.y4m_frame_index(payload, i, info)
        if frame is None:
            continue
        f = frame.astype(np.float64)
        lumas.append(f.mean())
        if prev is not None:
            motions.append(np.abs(f - prev).mean())
        prev = f
    mean_luma = float(np.mean(lumas)) if lumas else 0.0
    motion = float(np.mean(motions)) if motions else 0.0
    return [duration, fps, float(n), mean_luma, motion]


def _decoded_features(mime: str, payload: bytes) -> list[float]:
    family, obj = decode_media(mime, payload)
    if family == "image":
        return mc.image_features(obj)
    if family == "audio":
        rate, x = obj
        return mc.audio_features(rate, x)
    return _video_features(payload, obj)


def _spread_payloads(media: DataFrame, buckets: int = 64) -> DataFrame:
    """Payload-size skew guard: spread rows by id-hash so one 4K video
    doesn't pin a task. The shuffle moves each payload exactly once, to
    the stage that decodes it — unavoidable bytes, paid once."""
    return (
        media.withColumn("_bkt", F.pmod(F.xxhash64("media_id"), F.lit(buckets)))
        .repartition(F.col("_bkt"))
        .drop("_bkt")
    )


def decode_features_kernel(strict: bool = False):
    """The Arrow-batched decode kernel behind decode_media_features, as a
    mapInPandas function."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("media_id", "kind", "mime", "payload_bytes", "ok", "err", "features")}
            for mid, kind, mime, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["mime"], pdf["payload"]
            ):
                raw = bytes(payload)
                out["media_id"].append(mid)
                out["kind"].append(kind)
                out["mime"].append(mime)
                out["payload_bytes"].append(len(raw))
                try:
                    feats = _decoded_features(mime, raw)
                    out["ok"].append("ok")
                    out["err"].append(None)
                    out["features"].append([float(v) for v in feats])
                except Exception as exc:  # noqa: BLE001 — row-level quarantine
                    if strict:
                        raise
                    out["ok"].append("error")
                    out["err"].append(f"{type(exc).__name__}: {exc}")
                    out["features"].append(None)
            yield pd.DataFrame(out)

    return gen


def decode_media_features(media: DataFrame, strict: bool = False) -> DataFrame:
    """media (MEDIA schema) → DECODED_FEATURES via real per-family
    decode (WAV/PPM/BMP/Y4M). Feature vectors are family-specific:
    image → media_codecs.image_features (8), audio → audio_features
    (5), video → _video_features (5).

    strict=False (default): a row that fails to decode (compressed
    format, corrupt bytes) yields ok="error" + err message + NULL
    features instead of failing the stage — curation filters on `err`.
    strict=True re-raises, for pipelines that must halt on bad media.
    """
    return _spread_payloads(media).mapInPandas(
        decode_features_kernel(strict), schema=DECODED_FEATURES
    )


def extract_media_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """media (MEDIA schema) → MEDIA_FEATURES via Arrow-batched
    mapInPandas. Content-hash fingerprint features (format-agnostic —
    works on payloads whose codecs are absent); for real decoded
    features use decode_media_features."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload_sha256": [
                        hashlib.sha256(bytes(p)).hexdigest() for p in pdf["payload"]
                    ],
                    "payload_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    "features": [_fingerprint(bytes(p), dim) for p in pdf["payload"]],
                }
            )

    return _spread_payloads(media).mapInPandas(gen, schema=MEDIA_FEATURES)


def _fingerprint(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic content fingerprint: sha256 bytes → dim floats in
    [-0.5, 0.5). Format-agnostic (no decode), so it covers payloads
    whose codecs are absent; the decoded-feature path is
    decode_media_features."""
    h = hashlib.sha256(payload).digest()
    return [h[i] / 255.0 - 0.5 for i in range(dim)]


# Back-compat alias: earlier rounds exposed the fingerprint kernel as
# _fake_features (it was the stand-in before real decode landed).
_fake_features = _fingerprint


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: explode target timestamps
    metadata-only (payload untouched until the decode stage) — the
    shuffle moves (media_id, ts) pairs, never bytes. Pair with
    frame_sample_execute, which decodes in place instead of joining
    this plan back to payloads."""
    return (
        media.where(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.coalesce(F.col("duration_ms"), F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("sample_ts_ms"),
        )
    )


def frame_sample_execute(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Decode sampled frames from Y4M video payloads → FRAME_SAMPLES
    (media_id, sample_ts_ms, mean_luma, motion-vs-previous-sample).

    Scale shape: payloads are NEVER joined against the sample plan —
    each video row is decoded where it lives, and each sampled frame is
    an O(1) byte-offset seek into the payload (media_codecs.y4m_frame_at),
    so sampling every second of an hour-long stream touches 3,600 frames'
    bytes, not a sequential scan of all ~10^5. Output rows are small
    (id, ts, two floats) — the exploded shuffle moves no pixels."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("media_id", "sample_ts_ms", "mean_luma", "motion")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload)
                info = mc.y4m_info(raw)
                fps = info["fps_num"] / info["fps_den"]
                duration_ms = int(info["n_frames"] * 1000 / fps) if fps else 0
                prev = None
                for ts in range(0, max(duration_ms, 1), every_ms):
                    frame = mc.y4m_frame_at(raw, ts, info)
                    if frame is None:
                        break
                    f = frame.astype(np.float64)
                    out["media_id"].append(mid)
                    out["sample_ts_ms"].append(ts)
                    out["mean_luma"].append(float(f.mean()))
                    out["motion"].append(
                        float(np.abs(f - prev).mean()) if prev is not None else None
                    )
                    prev = f
            yield pd.DataFrame(out)

    vids = media.where(F.col("kind") == "video")
    return _spread_payloads(vids).mapInPandas(gen, schema=FRAME_SAMPLES)


def resize_images(
    media: DataFrame, out_w: int, out_h: int, strict: bool = False
) -> DataFrame:
    """Decode → area/nearest resize → re-encode (PPM) for image rows;
    non-image rows pass through untouched. Returns MEDIA-shaped data
    with updated payload/width/height/mime. Thumbnail generation for a
    training corpus: runs where the payload lives, no shuffle of pixels
    beyond the skew-spread.

    strict=False (default) quarantines per ROW, mirroring
    decode_features_kernel: a compressed (e.g. image/png) or corrupt
    payload among kind='image' rows passes through UNCHANGED instead of
    killing the whole stage — at 100 TB one undecodable blob must not
    fail the job (ADVICE r06). strict=True re-raises (debugging)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = pdf.to_dict("records")
            for r in rows:
                try:
                    _family, img = decode_media(r["mime"], bytes(r["payload"]))
                    small = mc.resize_area(img, out_w, out_h)
                except Exception:
                    if strict:
                        raise
                    continue  # unresizable row rides through unchanged
                r["payload"] = mc.encode_ppm(small)
                r["width"], r["height"] = out_w, out_h
                r["mime"] = "image/x-portable-pixmap"
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA.fields])

    imgs = media.where(F.col("kind") == "image")
    rest = media.where(F.col("kind") != "image")
    return _spread_payloads(imgs).mapInPandas(gen, schema=MEDIA).unionByName(rest)
