"""Streaming DASH/CMAF segment landing → sample-table ledger: the
round-8 fragmented-MP4 walker wired into the engine's incremental
layer, so a landing directory of ``.m4s`` media segments drains
through per-segment sample expansion → insert-only MERGE with
checkpointed exactly-once progress — the shape a video ingest
pipeline actually runs (an encoder drops segments continuously; each
is processed once, and the output table IS the presentation's sample
index for keyframe-range fetching).

Pieces, all reused (the same composition as warc_stream /
wds_landing_stream):

* file discovery = Structured Streaming's file source over
  ``binaryFile`` (the checkpoint IS the processed-segment ledger);
* sample expansion = :func:`mp4_segment_table` — the init segment's
  moov (small: metadata only) rides into the Arrow kernel as a
  closure constant, and init+segment concatenation feeds the SAME
  fragment walker the batch path uses;
* sink = insert-only MERGE keyed ``(track, chunk, sample)`` — the
  mfhd sequence number (``chunk``) orders segments globally, so
  re-delivered segments are exact-duplicate keys and no-op.

Correctness constraints carried from the walker: segments must use
default-base-is-moof addressing (``mp4_split_segments`` refuses
explicit base-data-offsets — they dangle after relocation) and carry
tfdt so decode times are absolute per segment rather than
cursor-accumulated across a file boundary that no longer exists.

Scale: segments are processed batch-at-a-time inside Arrow; only the
init segment's bytes (KBs) live on the driver. At 100 TB the MERGE
target is partitioned (operators/merge.py header) so each micro-batch
rewrites only touched partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.operators.merge import ParquetTable
from ccgp_data_wrangling_spark.streaming.incremental import fold_stream

__all__ = ["dash_segment_rows", "dash_landing_stream", "MP4_SAMPLE_SCHEMA"]

_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)

MP4_SAMPLE_SCHEMA = (
    "track int, chunk int, sample int, dts bigint, time_sec double, "
    "size int, mdat_offset bigint, keyframe boolean"
)


def dash_segment_rows(segments: DataFrame, init: bytes) -> DataFrame:
    """Expand ``(payload binary)`` media segments into sample rows via
    the fragment walker, with the init segment closed over into the
    Arrow kernel. Works identically on batch and streaming frames."""
    from collections.abc import Iterator

    import pandas as pd

    init_bytes = bytes(init)

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ccgp_data_wrangling_spark.operators.media_codecs import (
            mp4_segment_table,
        )

        for pdf in batches:
            rows = []
            for blob in pdf["payload"]:
                for r in mp4_segment_table(init_bytes, bytes(blob)):
                    rows.append(
                        {
                            "track": r["track"],
                            "chunk": r["chunk"],
                            "sample": r["sample"],
                            "dts": r["dts"],
                            "time_sec": r["time_sec"],
                            "size": r["size"],
                            "mdat_offset": r["mdat_offset"],
                            "keyframe": r["keyframe"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "track", "chunk", "sample", "dts", "time_sec",
                    "size", "mdat_offset", "keyframe",
                ],
            )

    return segments.select("payload").mapInPandas(
        expand, schema=MP4_SAMPLE_SCHEMA
    )


def dash_landing_stream(
    spark: SparkSession,
    segment_dir: str,
    init: bytes,
    target: ParquetTable,
    *,
    checkpoint_dir: str,
):
    """Drain new ``.m4s`` segments into ``target`` (keyed
    ``(track, chunk, sample)``): discovery → per-segment sample
    expansion → insert-only MERGE, in the cron-cadence execution model
    (T3); re-runs are no-ops (the checkpoint skips seen files, the
    MERGE skips seen keys). A missing target bootstraps with the empty
    sample schema. Returns the StreamingQuery."""
    if not target.exists():
        target.init(MP4_SAMPLE_SCHEMA)
    raw = (
        spark.readStream.format("binaryFile")
        .schema(_BINARYFILE_SCHEMA)
        .option("pathGlobFilter", "*.m4s")
        .load(segment_dir)
    )
    segs = raw.select(F.col("content").alias("payload"))
    return fold_stream(
        dash_segment_rows(segs, init),
        target.insert_only,
        checkpoint_dir=checkpoint_dir,
    )
