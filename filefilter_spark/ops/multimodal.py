"""Multimodal column plumbing (images/audio/video as binary columns).

Design per BASELINE.json's north star: media payloads travel as opaque
``binary`` columns next to typed metadata; decode/resize/frame-sample
run as Arrow-batched ``mapInPandas`` functions so bytes cross the
JVM↔Python boundary once per batch, never per row.

Image decode/resize are REAL for PNG, BMP, JPEG (baseline AND
progressive SOF2), GIF, and TIFF via the zlib + numpy codec in
``ops/imagecodec.py``; audio for RIFF/WAVE via ``ops/audiocodec.py``;
video frame sampling for YUV4MPEG2 via ``ops/videocodec.py``. Formats
that genuinely need an external codec library (WebP, MP3/AAC, H.264)
raise unless ``fake=True``, in which case deterministic
pseudo-metadata is derived from the payload hash — keeping the
Spark-side plumbing (schema, batch shape, partitioning) fully real and
oracle-testable. Swapping in Pillow/ffmpeg later changes only the
kernel body, not the plan.

Corrupt-payload policy (a 100 TB scrape WILL contain truncated/garbled
media): every real-mode kernel takes ``on_error`` — ``"raise"``
(default: fail the job, right for curated fixtures), ``"null"``
(decode/audio: keep the row, null metadata — lets the pipeline COUNT
failures), or ``"skip"`` (drop the row; the only non-raise policy for
the 1:1 payload-rewriting resize and the 1:N frame fan-out). A single
bad row must never be able to abort a week-long corpus job unless the
caller asked for exactly that.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

def _check_on_error(on_error: str, allowed: tuple) -> None:
    if on_error not in allowed:
        raise ValueError(
            f"on_error must be one of {allowed}, got {on_error!r}"
        )


def _int0(v) -> int:
    """int() that treats pandas NaN/None (NULL content_len from a NULL
    payload) as 0 instead of raising."""
    return 0 if v is None or pd.isna(v) else int(v)


MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("media_type", StringType()),   # image/audio/video
    StructField("content", BinaryType()),      # opaque payload
    StructField("content_len", LongType()),
    StructField("sha256", StringType()),
])


def to_media_table(df: DataFrame, id_col: str, payload_col: str,
                   media_type: str = "image") -> DataFrame:
    """Wrap an id + binary payload into the canonical media schema.
    Hash/length are JVM-side (sha2/octet_length) — no Python."""
    payload = F.col(payload_col).cast("binary")
    mid = F.col(id_col).cast("long")
    # Loud cast check: a non-numeric id would cast to NULL and reach the
    # kernels as NaN, where int(mid) dies with an error that never
    # mentions the id column.
    mid = F.when(
        F.assert_true(
            F.col(id_col).isNull() | mid.isNotNull(),
            F.concat(
                F.lit(f"to_media_table: id column {id_col!r} not castable "
                      "to long: "),
                F.col(id_col).cast("string"),
            ),
        ).isNull(),
        mid,
    )
    return df.select(
        mid.alias("media_id"),
        F.lit(media_type).alias("media_type"),
        payload.alias("content"),
        F.octet_length(payload).cast("long").alias("content_len"),
        F.lower(F.sha2(payload, 256)).alias("sha256"),
    )


_DECODE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_channels", IntegerType()),
    StructField("feature_hash", StringType()),
])


def decode_image_stub(content: bytes, fake: bool = False,
                      on_error: str = "raise") -> dict | None:
    """Decode kernel. ``fake=False`` REALLY decodes PNG/BMP/JPEG
    (baseline + progressive)/GIF/TIFF payloads (zlib + numpy codec,
    ``ops/imagecodec.py``) — width/height/channels from the actual
    pixel grid, ``feature_hash`` over the decoded pixel bytes. Formats
    needing an external library (WebP, ...) follow ``on_error``:
    "raise", "null" (metadata fields None), or "skip" (returns None —
    caller drops the row). ``fake=True`` derives deterministic
    pseudo-metadata from the payload hash instead — the
    oracle-checkable path for the synthetic testdata payloads (which
    are not valid images)."""
    if not fake:
        from filefilter_spark.ops import imagecodec

        try:
            w, h_px, ch, pixels = imagecodec.decode(content or b"")
        except imagecodec.ImageFormatError as e:
            if on_error == "null":
                return {"width": None, "height": None,
                        "n_channels": None, "feature_hash": None}
            if on_error == "skip":
                return None
            raise NotImplementedError(
                f"cannot decode payload without a codec library: {e}; "
                "run with fake=True for plumbing tests, or pass "
                "on_error='null'/'skip' to route bad payloads"
            ) from e
        return {
            "width": w,
            "height": h_px,
            "n_channels": ch,
            "feature_hash": hashlib.sha256(pixels).hexdigest()[:16],
        }
    h = hashlib.sha256(content or b"").digest()
    return {
        "width": 64 + h[0] % 192,
        "height": 64 + h[1] % 192,
        "n_channels": 3,
        "feature_hash": h.hex()[:16],
    }


def extract_image_features(media: DataFrame, fake: bool = True,
                           on_error: str = "raise") -> DataFrame:
    """Arrow-batched decode/feature pass: one Python crossing per batch;
    output is narrow typed metadata (bytes stay behind). ``on_error``
    is the per-row corrupt-payload policy (module docstring)."""
    _check_on_error(on_error, ("raise", "null", "skip"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                meta = decode_image_stub(
                    bytes(content) if content is not None else b"",
                    fake=fake, on_error=on_error,
                )
                if meta is None:  # on_error="skip"
                    continue
                meta["media_id"] = int(mid)
                rows.append(meta)
            yield pd.DataFrame(rows, columns=[f.name for f in _DECODE_SCHEMA.fields])

    return media.select("media_id", "content").mapInPandas(run, schema=_DECODE_SCHEMA)


_AUDIO_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("duration_ms", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", LongType()),
    StructField("mfcc_hash", StringType()),
])


def extract_audio_features_stub(media: DataFrame, fake: bool = True,
                                on_error: str = "raise") -> DataFrame:
    """Audio feature-extraction plumbing (duration / sample-rate / MFCC
    fingerprint). Same contract as the image path: Arrow-batched
    mapInPandas. ``fake=False`` REALLY decodes RIFF/WAVE payloads (PCM
    and IEEE-float; pure stdlib+numpy, ``ops/audiocodec.py``) and
    computes a true frame-averaged MFCC fingerprint; compressed codecs
    (MP3/AAC/…) need a library this container lacks and raise. The
    fake kernel remains the oracle-checkable path for synthetic
    payloads."""

    _check_on_error(on_error, ("raise", "null", "skip"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if not fake:
            from filefilter_spark.ops import audiocodec
        for pdf in batches:
            rows = []
            for mid, content, clen in zip(pdf["media_id"], pdf["content"], pdf["content_len"]):
                if not fake:
                    raw = bytes(content) if content is not None else b""
                    try:
                        meta = audiocodec.wav_features(raw)
                    except audiocodec.AudioFormatError as e:
                        if on_error == "null":
                            rows.append({"media_id": int(mid),
                                         "duration_ms": None,
                                         "sample_rate": None,
                                         "n_samples": None,
                                         "mfcc_hash": None})
                            continue
                        if on_error == "skip":
                            continue
                        raise NotImplementedError(
                            f"cannot decode payload without a codec library: {e}; "
                            "run with fake=True for plumbing tests, or pass "
                            "on_error='null'/'skip' to route bad payloads"
                        ) from e
                    rows.append({
                        "media_id": int(mid),
                        "duration_ms": meta["duration_ms"],
                        "sample_rate": meta["sample_rate"],
                        "n_samples": meta["n_samples"],
                        "mfcc_hash": meta["mfcc_hash"],
                    })
                    continue
                h = hashlib.sha256(bytes(content) if content is not None else b"").digest()
                sr = 16000 if h[2] % 2 else 44100
                n_samples = _int0(clen) * 100
                rows.append({
                    "media_id": int(mid),
                    "duration_ms": n_samples * 1000 // sr,
                    "sample_rate": sr,
                    "n_samples": n_samples,
                    "mfcc_hash": h.hex()[:16],
                })
            yield pd.DataFrame(rows, columns=[f.name for f in _AUDIO_SCHEMA.fields])

    return media.select("media_id", "content", "content_len").mapInPandas(run, schema=_AUDIO_SCHEMA)


def resize_images_stub(media: DataFrame, width: int = 224, height: int = 224,
                       fake: bool = True, out_format: str = "png",
                       on_error: str = "raise") -> DataFrame:
    """Payload-rewriting plumbing: binary in → binary out (the resize
    shape every image pipeline needs). ``fake=False`` really resizes
    any decodable payload (PNG/BMP/JPEG/GIF/TIFF) — decode,
    nearest-neighbor resample, re-encode as ``out_format`` ("png"
    lossless, or "jpeg" via the baseline encoder — the thumbnail
    format a web-scale pipeline actually ships; gray+alpha/RGBA
    collapse to gray/RGB for JPEG). The fake kernel emits a
    deterministic digest-derived payload so downstream schema/batch
    behavior stays oracle-checkable on synthetic data."""
    if out_format not in ("png", "jpeg"):
        raise ValueError(f"unsupported resize out_format {out_format!r}")
    # a payload-rewriting 1:1 op has no useful "null payload" row
    _check_on_error(on_error, ("raise", "skip"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if not fake:
            from filefilter_spark.ops import imagecodec
        for pdf in batches:
            out = {"media_id": [], "media_type": [], "content": [],
                   "content_len": [], "sha256": []}
            for mid, mtype, content in zip(pdf["media_id"], pdf["media_type"], pdf["content"]):
                if not fake:
                    raw = bytes(content) if content is not None else b""
                    try:
                        w0, h0, ch, px = imagecodec.decode(raw)
                    except imagecodec.ImageFormatError as e:
                        if on_error == "skip":
                            continue
                        raise NotImplementedError(
                            f"cannot resize payload without a codec library: "
                            f"{e}; pass on_error='skip' to drop bad payloads"
                        ) from e
                    resized_px = imagecodec.resize_nearest(w0, h0, ch, px, width, height)
                    if out_format == "jpeg":
                        if ch in (2, 4):  # drop alpha: JPEG has none
                            step = ch
                            resized_px = bytes(
                                b for i, b in enumerate(resized_px)
                                if i % step != step - 1
                            )
                            ch -= 1
                        resized = imagecodec.encode_jpeg(
                            width, height, ch, resized_px
                        )
                    else:
                        resized = imagecodec.encode_png(width, height, ch, resized_px)
                    out["media_id"].append(int(mid))
                    out["media_type"].append(mtype)
                    out["content"].append(resized)
                    out["content_len"].append(len(resized))
                    out["sha256"].append(hashlib.sha256(resized).hexdigest())
                    continue
                seed = hashlib.sha256(bytes(content) if content is not None else b"")
                seed.update(f"{width}x{height}".encode())
                # Deterministic fixed-size fake payload. Hex-string bytes
                # (not raw digest bytes) ON PURPOSE: the oracle engine's
                # sha256 only hashes VARCHAR, so an ASCII payload keeps
                # the downstream sha256 column SQL-checkable end-to-end.
                resized = (seed.hexdigest() * 4).encode("ascii")
                out["media_id"].append(int(mid))
                out["media_type"].append(mtype)
                out["content"].append(resized)
                out["content_len"].append(len(resized))
                out["sha256"].append(hashlib.sha256(resized).hexdigest())
            yield pd.DataFrame(out)

    return media.select("media_id", "media_type", "content").mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


def frame_sample_stub(media: DataFrame, every_n: int = 30, fake: bool = True,
                      on_error: str = "raise") -> DataFrame:
    """Video frame-sampling plumbing: fan one video row out to frame
    rows (1:N mapInPandas). ``fake=False`` REALLY samples frames from
    YUV4MPEG2 payloads (pure-stdlib reader, ``ops/videocodec.py``) —
    every ``every_n``-th frame's bytes are hashed; compressed video
    needs a decoder this container lacks and raises. The fake kernel
    remains the oracle-checkable path for synthetic payloads."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    _check_on_error(on_error, ("raise", "skip"))
    schema = StructType([
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_hash", StringType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if not fake:
            from filefilter_spark.ops import videocodec
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_hash": []}
            for mid, content, clen in zip(pdf["media_id"], pdf["content"], pdf["content_len"]):
                if not fake:
                    raw = bytes(content) if content is not None else b""
                    try:
                        for idx, frame in videocodec.iter_frames(raw):
                            if idx % every_n:
                                continue
                            out["media_id"].append(int(mid))
                            out["frame_idx"].append(idx)
                            out["frame_hash"].append(
                                hashlib.sha256(frame).hexdigest()[:16]
                            )
                    except videocodec.VideoFormatError as e:
                        if on_error == "skip":
                            continue
                        raise NotImplementedError(
                            f"cannot decode payload without a codec library: "
                            f"{e}; run with fake=True for plumbing tests, or "
                            "pass on_error='skip' to drop bad payloads"
                        ) from e
                    continue
                n_frames = max(1, _int0(clen) % 300)
                # Hex-string seed (not raw digest bytes) so the fake frame
                # hash is reproducible by a VARCHAR-only sha256 oracle.
                seed = hashlib.sha256(bytes(content) if content is not None else b"").hexdigest()
                for i in range(0, n_frames, every_n):
                    out["media_id"].append(int(mid))
                    out["frame_idx"].append(i)
                    out["frame_hash"].append(
                        hashlib.sha256(f"{seed}-{i}".encode("ascii")).hexdigest()[:16]
                    )
            yield pd.DataFrame(out)

    return media.select("media_id", "content", "content_len").mapInPandas(run, schema=schema)
