"""WebDataset-style tar-shard ingest — the de-facto layout for large
multimodal training sets (images/audio + labels shipped as tar
shards; samples stream sequentially, no per-file open cost).

Format facts (public WebDataset convention):

* a shard is a plain tar archive; member names are
  ``<sample key>.<extension>`` (the key is everything before the
  FIRST dot, so ``0001.seg.png`` belongs to sample ``0001`` with
  extension ``seg.png``);
* consecutive members sharing a key form ONE sample with several
  modality parts (``jpg`` + ``cls`` + ``json`` …);
* shards are the unit of parallelism: a reader maps shards to
  workers and streams samples inside each shard.

This reader implements exactly that with stdlib ``tarfile`` over an
in-memory blob: one Arrow ``mapInPandas`` pass explodes shard blobs
into one row per sample carrying ``map<extension, binary>`` — the
engine's multimodal operators (real decoders, pHash, resize) consume
the parts downstream. Scale shape matches WARC/PDF ingest: blobs
stream batch-by-batch through executors, nothing driver-side, and
shard count is the parallelism knob.
"""

from __future__ import annotations

import io
import tarfile
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from ccgp_data_wrangling_spark.sources.blobs import blob_batches, explode_blobs

__all__ = ["iter_wds_samples", "wds_samples", "build_wds_shard", "WDS_SAMPLE_SCHEMA"]


def iter_wds_samples(blob: bytes) -> Iterator[tuple[str, dict[str, bytes]]]:
    """Yield ``(sample_key, {extension: payload})`` groups from one
    tar shard, in archive order. Grouping is by the WebDataset rule:
    key = member name before the FIRST dot; a key change closes the
    current sample (keys are contiguous in a conformant shard)."""
    cur_key: str | None = None
    parts: dict[str, bytes] = {}
    with tarfile.open(fileobj=io.BytesIO(blob)) as tf:
        for member in tf:
            if not member.isfile():
                continue
            name = member.name.rsplit("/", 1)[-1]
            key, _, ext = name.partition(".")
            if key != cur_key:
                if cur_key is not None:
                    yield cur_key, parts
                cur_key, parts = key, {}
            f = tf.extractfile(member)
            parts[ext] = f.read() if f is not None else b""
    if cur_key is not None:
        yield cur_key, parts


WDS_SAMPLE_SCHEMA = (
    "shard_id long, sample_key string, n_parts int, "
    "parts map<string, binary>"
)


def _sample_rows(blob: bytes) -> Iterator[tuple]:
    for key, parts in iter_wds_samples(blob):
        yield key, len(parts), parts


def wds_sample_batches(
    batches: Iterator[pd.DataFrame],
    *,
    id_col: str = "shard_id",
    payload_col: str = "payload",
) -> Iterator[pd.DataFrame]:
    """Batch-iterator core of :func:`wds_samples`, exposed so callers
    can fuse shard synthesis → sample explode → per-sample decode
    into ONE Arrow stage (shard blobs and part maps then never cross
    the JVM boundary between steps)."""
    return blob_batches(
        batches,
        _sample_rows,
        ["shard_id", "sample_key", "n_parts", "parts"],
        id_col=id_col,
        payload_col=payload_col,
    )


def wds_samples(
    df: DataFrame, *, id_col: str = "shard_id", payload_col: str = "payload"
) -> DataFrame:
    """Explode tar shards into one row per sample with its modality
    parts as ``map<extension, binary>`` — one :func:`explode_blobs`
    pass."""
    return explode_blobs(
        df,
        _sample_rows,
        WDS_SAMPLE_SCHEMA,
        id_col=id_col,
        payload_col=payload_col,
    )


def build_wds_shard(samples: list[tuple[str, dict[str, bytes]]]) -> bytes:
    """Fixture writer: serialize ``(key, {ext: payload})`` samples as
    a conformant WebDataset tar shard (contiguous members per key,
    deterministic mtimes so shards are byte-stable)."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for key, parts in samples:
            for ext in sorted(parts):
                data = parts[ext]
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(data)
                info.mtime = 0
                tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()
