"""Streaming WebM cluster landing → block-table ledger: the EBML twin
of :mod:`streaming/video_stream` (DASH). A live remuxer writes an
unknown-size Segment once (EBML header + Info + Tracks — the INIT
chunk) and then drops self-contained Cluster files continuously; this
wires that delivery shape into the engine's incremental layer, so a
landing directory of ``.webm`` cluster chunks drains through
per-cluster block expansion → insert-only MERGE with checkpointed
exactly-once progress.

Pieces, all reused (the same composition as warc / wds / dash landing
streams):

* file discovery = Structured Streaming's file source over
  ``binaryFile`` (the checkpoint IS the processed-chunk ledger);
* block expansion = :func:`webm_blocks` over ``init + chunk`` — the
  init chunk's bytes (KBs of metadata) ride into the Arrow kernel as
  a closure constant, and the concatenation parses because the
  init's Segment is UNKNOWN-SIZE (RFC 8794 §6.2: it terminates at
  end-of-bytes), the exact on-disk shape live WebM has anyway;
* sink = insert-only MERGE keyed ``(track, cluster_ts, block)`` —
  Cluster timestamps order chunks globally, so a re-delivered chunk
  is an exact-duplicate key set and no-ops.

Scale: chunks are processed batch-at-a-time inside Arrow; only the
init chunk's bytes live on the driver. At 100 TB the MERGE target is
partitioned (operators/merge.py header) so each micro-batch rewrites
only touched partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.operators.merge import ParquetTable
from ccgp_data_wrangling_spark.streaming.incremental import fold_stream

__all__ = ["webm_chunk_rows", "webm_landing_stream", "WEBM_BLOCK_SCHEMA"]

_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)

WEBM_BLOCK_SCHEMA = (
    "track int, cluster_ts bigint, block int, ts_ticks bigint, "
    "time_sec double, keyframe boolean, lace int, chunk_offset bigint, "
    "size int"
)


def webm_chunk_rows(chunks: DataFrame, init: bytes) -> DataFrame:
    """Expand ``(payload binary)`` cluster chunks into block rows via
    the EBML walker, with the init chunk closed over into the Arrow
    kernel. ``block`` enumerates frames within each Cluster (the
    within-chunk key); ``chunk_offset`` is the frame's byte offset
    INSIDE the chunk file (the init prefix subtracted), so keyframe
    ranges are fetchable from the landed object directly. Works
    identically on batch and streaming frames."""
    from collections.abc import Iterator

    import pandas as pd

    init_bytes = bytes(init)

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ccgp_data_wrangling_spark.operators.media_codecs import (
            webm_blocks,
        )

        for pdf in batches:
            rows = []
            for blob in pdf["payload"]:
                per_cluster: dict[int, int] = {}
                for r in webm_blocks(init_bytes + bytes(blob)):
                    b = per_cluster.get(r["cluster"], 0)
                    per_cluster[r["cluster"]] = b + 1
                    rows.append(
                        {
                            "track": r["track"],
                            "cluster_ts": r["cluster_ts"],
                            "block": b,
                            "ts_ticks": r["ts_ticks"],
                            "time_sec": r["time_sec"],
                            "keyframe": r["keyframe"],
                            "lace": r["lace"],
                            "chunk_offset": r["offset"] - len(init_bytes),
                            "size": r["size"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "track", "cluster_ts", "block", "ts_ticks",
                    "time_sec", "keyframe", "lace", "chunk_offset",
                    "size",
                ],
            )

    return chunks.select("payload").mapInPandas(
        expand, schema=WEBM_BLOCK_SCHEMA
    )


def webm_landing_stream(
    spark: SparkSession,
    chunk_dir: str,
    init: bytes,
    target: ParquetTable,
    *,
    checkpoint_dir: str,
):
    """Drain new ``.webm`` cluster chunks into ``target`` (keyed
    ``(track, cluster_ts, block)``): discovery → per-cluster block
    expansion → insert-only MERGE, in the cron-cadence execution model
    (T3); re-runs are no-ops (the checkpoint skips seen files, the
    MERGE skips seen keys). A missing target bootstraps with the empty
    block schema. Returns the StreamingQuery."""
    if not target.exists():
        target.init(WEBM_BLOCK_SCHEMA)
    raw = (
        spark.readStream.format("binaryFile")
        .schema(_BINARYFILE_SCHEMA)
        .option("pathGlobFilter", "*.webm")
        .load(chunk_dir)
    )
    chunks = raw.select(F.col("content").alias("payload"))
    return fold_stream(
        webm_chunk_rows(chunks, init),
        target.insert_only,
        checkpoint_dir=checkpoint_dir,
    )
