"""Audio clip-in-track matching — the constellation algorithm behind
audio search engines (Wang 2003, "An Industrial-Strength Audio Search
Algorithm", the Shazam paper), in its Spark-native shape:

1. **Constellation**: frame the PCM signal (non-overlapping ``frame``
   samples), keep each frame's strongest non-DC rFFT bin (ties to the
   lower bin) — amplitude-free landmarks.
2. **Pair hashes**: consecutive landmark bins combine into one long
   (``bin_i · 10^6 + bin_{i+1}`` at anchor frame ``i``) — the
   combinatorial hashing that makes landmarks specific enough to
   index.
3. **Matching**: clips join the track index ON THE HASH (the
   candidate restriction — never clip × track), votes accumulate per
   ``(clip, track, frame offset)``, and the winner is the offset with
   the most CONSISTENT votes — time-coherence is what makes the
   scheme robust.

Scale shape: the track index is a prebuilt table keyed by hash (at
catalog scale you persist it bucketed by hash); clip hashing is one
Arrow pass; the join shuffles ids+hashes only; the vote aggregate and
per-clip argmax window are the same scale-safe shapes as the ANN
re-rank. Nothing is quadratic in clips × tracks.
"""

from __future__ import annotations

import io
import wave

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.sources.blobs import explode_blobs

__all__ = [
    "frame_peak_bins",
    "constellation_hashes",
    "audio_constellation",
    "audio_clip_match",
]

_HASH_BASE = 1_000_000


def frame_peak_bins(payload: bytes, *, frame: int = 256) -> list[int]:
    """Per-frame strongest non-DC rFFT bin of a 16-bit PCM WAV
    payload (non-overlapping frames; trailing partial frame dropped;
    ties to the lower bin). Amplitude- and phase-insensitive by
    construction."""
    with wave.open(io.BytesIO(payload), "rb") as wf:
        if wf.getsampwidth() != 2:
            raise NotImplementedError("constellation expects 16-bit PCM")
        n_channels = wf.getnchannels()
        raw = wf.readframes(wf.getnframes())
    x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    if n_channels > 1:
        x = x.reshape(-1, n_channels).mean(axis=1)
    n_frames = x.size // frame
    if n_frames == 0:
        return []
    mags = np.abs(np.fft.rfft(x[: n_frames * frame].reshape(n_frames, frame), axis=1))
    return [int(b) + 1 for b in np.argmax(mags[:, 1:], axis=1)]


def constellation_hashes(payload: bytes, *, frame: int = 256) -> list[tuple[int, int]]:
    """``(anchor_frame_idx, pair_hash)`` for consecutive landmarks."""
    bins = frame_peak_bins(payload, frame=frame)
    return [
        (i, bins[i] * _HASH_BASE + bins[i + 1]) for i in range(len(bins) - 1)
    ]


def audio_constellation(
    df: DataFrame,
    *,
    id_col: str = "id",
    payload_col: str = "payload",
    frame: int = 256,
    pre=None,
) -> DataFrame:
    """Explode WAV payloads into ``(id, frame_idx, h)`` constellation
    pair hashes — one :func:`explode_blobs` pass, payloads never leave
    executors."""
    return explode_blobs(
        df,
        lambda b: constellation_hashes(b, frame=frame),
        "id long, frame_idx int, h long",
        id_col=id_col,
        payload_col=payload_col,
        pre=pre,
    )


def audio_clip_match(
    tracks: DataFrame,
    clips: DataFrame,
    *,
    frame: int = 256,
    tracks_pre=None,
    clips_pre=None,
) -> DataFrame:
    """Best ``(track_id, offset)`` per clip by constellation voting:
    hash equi-join (candidates only — never clip × track), vote count
    per (clip, track, frame-offset), per-clip argmax with a
    deterministic (votes desc, track asc, offset asc) tie-break.

    ``tracks``/``clips``: ``(id, payload)`` WAV frames. The track
    index is broadcast to the executors (the common catalog ≪
    clip-stream case); at catalog scale persist the index bucketed by
    ``h`` instead and let the join co-locate.

    Output: ``(clip_id, track_id, offset, votes)``, one row per clip
    that matched at least one hash.
    """
    th = F.broadcast(
        audio_constellation(tracks, frame=frame, pre=tracks_pre).select(
            F.col("id").alias("track_id"),
            F.col("frame_idx").alias("ti"),
            "h",
        )
    )
    ch = audio_constellation(clips, frame=frame, pre=clips_pre).select(
        F.col("id").alias("clip_id"),
        F.col("frame_idx").alias("ci"),
        "h",
    )
    votes = (
        ch.join(th, "h")
        .groupBy(
            "clip_id",
            "track_id",
            (F.col("ti") - F.col("ci")).cast("int").alias("offset"),
        )
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = W.partitionBy("clip_id").orderBy(
        F.desc("votes"), F.asc("track_id"), F.asc("offset")
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("clip_id", "track_id", "offset", "votes")
    )
