"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed by Arrow-batched pandas iterators
(``mapInPandas``) — the pattern a 100 TB training-data pipeline uses
for decode / feature-extract / resize / frame-sample.

The decode libraries (PIL, torchaudio, decord, …) are NOT in this
container, so the actual decoders are stubs that raise
``NotImplementedError``; a deterministic fake decoder keeps the
Spark-side plumbing — schema, Arrow batch shape, partitioning —
real and testable end-to-end. Swap ``fake_decode`` for a real decoder
without touching any plumbing.

Scale notes: mapInPandas streams Arrow batches — payload bytes never
materialize as one driver object; per-batch memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``. Media tables should
be partitioned by media_type (decoder affinity) and bucketed by id
for joins back to captions/labels.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.sources.blobs import explode_blobs, map_batches

FEATURE_SCHEMA = (
    "id long, media_type string, n_bytes long, content_md5 string, "
    "fake_width int, fake_height int, byte_mean double"
)


def real_decode(payload: bytes, media_type: str) -> Any:
    """Real decode for the formats the stdlib can parse (WAV PCM,
    netpbm P5/P6 — see ``media_codecs.py``); raises for codecs this
    environment genuinely lacks (JPEG/PNG/MP3/MP4 need PIL/librosa/
    decord)."""
    from ccgp_data_wrangling_spark.operators.media_codecs import (
        real_decode as _rd,
    )

    return _rd(payload, media_type)


REAL_FEATURE_SCHEMA = (
    "id long, media_type string, kind string, sample_rate int, "
    "n_channels int, duration_sec double, rms double, peak double, "
    "width int, height int, luma_mean double"
)


def extract_real_features(
    df: DataFrame,
    *,
    id_col: str = "id",
    payload_col: str = "payload",
    media_type_col: str = "media_type",
    pre: Any = None,
) -> DataFrame:
    """Decode-and-featurize with the REAL stdlib kernels (WAV / netpbm).

    One wide nullable schema covers both kinds (audio rows leave image
    columns null and vice versa) so mixed media tables stream through
    one mapInPandas pass. Rows whose media_type has no stdlib decoder
    raise — filter or route them to the fake path upstream.

    ``pre`` is an optional batch-iterator transformer (``Iterator[pd.
    DataFrame] -> Iterator[pd.DataFrame]``, e.g. a fixture payload
    synthesizer) fused into the SAME mapInPandas stage: with two
    chained stages the payload bytes cross the JVM<->Python Arrow
    boundary twice and pay a second Python runner per task, while a
    fused stage ships only the input ids in and the features out.
    """

    cols = [
        "kind", "sample_rate", "n_channels", "duration_sec",
        "rms", "peak", "width", "height", "luma_mean",
    ]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                real_decode(bytes(p), m)
                for p, m in zip(pdf[payload_col], pdf[media_type_col])
            ]
            out = pd.DataFrame(
                [{c: f.get(c) for c in cols} for f in feats]
            )
            out.insert(0, "media_type", pdf[media_type_col].values)
            out.insert(0, "id", pdf[id_col].values)
            yield out

    return map_batches(
        df, op, REAL_FEATURE_SCHEMA, (id_col, payload_col, media_type_col), pre
    )


def fake_decode(payload: bytes) -> dict[str, Any]:
    """Deterministic stand-in for an image decoder: derives a plausible
    (width, height) and a byte-level feature from the payload alone.
    """
    n = len(payload)
    return {
        "n_bytes": n,
        "content_md5": hashlib.md5(payload).hexdigest(),
        "fake_width": n % 640 + 1,
        "fake_height": n % 480 + 1,
        "byte_mean": float(sum(payload)) / n if n else 0.0,
    }


def extract_media_features(
    df: DataFrame,
    *,
    id_col: str = "id",
    payload_col: str = "payload",
    media_type_col: str = "media_type",
) -> DataFrame:
    """Decode-and-featurize every payload via Arrow-batched pandas.

    Input: (id, payload binary, media_type). Output: FEATURE_SCHEMA.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [fake_decode(bytes(p)) for p in pdf[payload_col]]
            out = pd.DataFrame(feats)
            out.insert(0, "media_type", pdf[media_type_col].values)
            out.insert(0, "id", pdf[id_col].values)
            yield out[
                [
                    "id",
                    "media_type",
                    "n_bytes",
                    "content_md5",
                    "fake_width",
                    "fake_height",
                    "byte_mean",
                ]
            ]

    narrow = df.select(
        F.col(id_col).alias(id_col),
        F.col(payload_col).alias(payload_col),
        F.col(media_type_col).alias(media_type_col),
    )
    return narrow.mapInPandas(op, schema=FEATURE_SCHEMA)

RESIZE_SCHEMA = (
    "id long, media_type string, payload binary, out_width int, "
    "out_height int, n_bytes_out long"
)

FRAME_SCHEMA = (
    "id long, frame_idx int, frame_ts_sec double, frame_payload binary"
)


def fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for an image resize kernel: resamples the
    byte stream to width*height bytes (nearest-index). A real kernel
    (PIL ``Image.resize``) drops in with the same signature."""
    n = max(1, width * height)
    src = payload or b"\x00"
    return bytes(src[(i * len(src)) // n] for i in range(n))


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    *,
    id_col: str = "id",
    payload_col: str = "payload",
    media_type_col: str = "media_type",
    kernel: str = "fake",
) -> DataFrame:
    """Resize every image payload to (width, height) via Arrow batches.

    Output keeps payload as ``binary`` (RESIZE_SCHEMA) so downstream
    stages keep streaming; 1 row in → 1 row out preserves partitioning.
    ``kernel="netpbm"`` uses the REAL nearest-neighbor resize for
    P5/P6 payloads (media_codecs.resize_netpbm); the default fake
    byte-resampler serves formats whose codecs aren't installed.
    """
    if kernel == "netpbm":
        from ccgp_data_wrangling_spark.operators.media_codecs import (
            resize_netpbm as _resize,
        )
    elif kernel == "fake":
        _resize = fake_resize
    else:
        raise ValueError(f"unknown resize kernel {kernel!r}")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [_resize(bytes(p), width, height) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].values,
                    "media_type": pdf[media_type_col].values,
                    "payload": resized,
                    "out_width": width,
                    "out_height": height,
                    "n_bytes_out": [len(r) for r in resized],
                }
            )

    narrow = df.select(id_col, payload_col, media_type_col)
    return narrow.mapInPandas(op, schema=RESIZE_SCHEMA)


def sample_frames(
    df: DataFrame,
    every_sec: float,
    *,
    id_col: str = "id",
    payload_col: str = "payload",
    duration_col: str = "duration_sec",
    frame_bytes: int = 64,
) -> DataFrame:
    """Sample one frame per ``every_sec`` from each video payload —
    the 1→N expansion shape (UDTF-like) of a video pipeline.

    Deterministic fake: frame k's payload is the byte window at the
    proportional offset. A real decoder (decord/ffmpeg) replaces
    ``_fake_frame`` only. Output rows carry (id, frame_idx, ts) so
    frames join back to labels without re-reading the video.
    """
    if every_sec <= 0:
        raise ValueError("every_sec must be positive")

    def _fake_frame(payload: bytes, k: int, n_frames: int) -> bytes:
        if not payload:
            return b""
        start = (k * len(payload)) // max(1, n_frames)
        return payload[start : start + frame_bytes]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            # vectorized 1→N expansion: per-row frame counts, then one
            # numpy repeat/arange pass builds the (row, frame_idx)
            # index — only the byte slicing itself is a comprehension
            n_frames = np.maximum(
                1,
                (
                    pdf[duration_col].to_numpy(dtype=np.float64) // every_sec
                ).astype(np.int64)
                + 1,
            )
            row_pos = np.repeat(np.arange(len(pdf)), n_frames)
            # frame_idx k = position within each row's run
            offsets = np.concatenate(([0], np.cumsum(n_frames)[:-1]))
            idxs = np.arange(n_frames.sum()) - np.repeat(offsets, n_frames)
            payloads = [bytes(p) for p in pdf[payload_col]]
            per_row_n = n_frames[row_pos]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy()[row_pos],
                    "frame_idx": idxs,
                    "frame_ts_sec": idxs * every_sec,
                    "frame_payload": [
                        _fake_frame(payloads[r], int(k), int(n))
                        for r, k, n in zip(row_pos, idxs, per_row_n)
                    ],
                }
            )

    narrow = df.select(id_col, payload_col, duration_col)
    return narrow.mapInPandas(op, schema=FRAME_SCHEMA)


SPECTRAL_SCHEMA = (
    "id long, kind string, sample_rate int, n_samples int, "
    "zero_crossings int, dominant_freq_hz double, rms double, peak double"
)


def audio_spectral_features(
    df: DataFrame,
    *,
    id_col: str = "id",
    payload_col: str = "payload",
    pre: Any = None,
) -> DataFrame:
    """Real DSP features per audio payload — zero-crossing count and
    FFT dominant frequency (media_codecs.wav_spectral_features) — in
    one Arrow mapInPandas pass. Same plumbing discipline as
    extract_real_features: payload bytes stream per batch, never as a
    driver object."""
    from ccgp_data_wrangling_spark.operators.media_codecs import (
        wav_spectral_features,
    )

    cols = [
        "kind", "sample_rate", "n_samples", "zero_crossings",
        "dominant_freq_hz", "rms", "peak",
    ]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [wav_spectral_features(bytes(p)) for p in pdf[payload_col]]
            out = pd.DataFrame([{c: f.get(c) for c in cols} for f in feats])
            out.insert(0, "id", pdf[id_col].values)
            yield out

    return map_batches(df, op, SPECTRAL_SCHEMA, (id_col, payload_col), pre)


GIF_FRAME_SCHEMA = (
    "id long, frame_idx int, frame_ts_sec double, width int, "
    "height int, luma_mean double"
)


def sample_frames_gif(
    df: DataFrame,
    every_sec: float,
    *,
    id_col: str = "id",
    payload_col: str = "payload",
    pre: Any = None,
) -> DataFrame:
    """REAL frame sampling from animated-GIF payloads — the concrete
    instance of the video frame-sample shape (sample_frames) with an
    actual stdlib decoder behind it: every frame is LZW-decoded and
    composited (media_codecs.decode_gif_frames), the per-frame delays
    build the timeline, and one frame is kept per ``every_sec`` window
    (the first frame whose start time falls in the window — a real
    video sampler's keyframe rule). Emitted rows carry per-frame
    features (native luma mean) rather than raw pixels, the usual
    shape when frames feed a filter or an embedding stage.

    1→N expansion inside one :func:`explode_blobs` pass; payloads
    never leave the executors, and output size is bounded by
    duration/every_sec regardless of frame rate.
    """
    if every_sec <= 0:
        raise ValueError("every_sec must be positive")

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        decode_gif_frames,
    )

    def rows_of(blob: bytes) -> Iterator[tuple]:
        frames, delays = decode_gif_frames(blob)
        t = 0.0
        next_emit = 0.0
        for k, (px, d_cs) in enumerate(zip(frames, delays)):
            if t >= next_emit:
                m = px.astype(np.float64).mean(axis=(0, 1))
                yield (
                    k,
                    round(t, 6),
                    px.shape[1],
                    px.shape[0],
                    round(float(m @ np.array([0.299, 0.587, 0.114])), 4),
                )
                next_emit += every_sec
            t += d_cs / 100.0

    return explode_blobs(
        df,
        rows_of,
        GIF_FRAME_SCHEMA,
        id_col=id_col,
        payload_col=payload_col,
        pre=pre,
    )
