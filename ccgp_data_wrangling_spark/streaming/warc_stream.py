"""Streaming WARC ingest → curation: the round-5 batch WARC source
(sources/warc.py) wired into the engine's incremental layer, so a
landing directory of ``.warc.gz`` archives drains through record
explode → quality gate → fingerprint dedup with checkpointed
exactly-once progress — the shape a crawl pipeline actually runs
(new archives land continuously; each is processed once).

Pieces, all reused:

* file discovery = Structured Streaming's file source over
  ``binaryFile`` (the streaming twin of the T2 listing-discovery
  pattern — the checkpoint IS the processed-file ledger);
* record explode = the SAME ``warc_records`` Arrow kernel the batch
  path uses (mapInPandas composes with streaming unchanged);
* curation = :func:`curate_warc_records`, one shared Column-expression
  stage applied identically in batch and stream (what makes the
  stream ≡ batch test meaningful);
* sink = ``fold_stream`` into an insert-only MERGE keyed on the text
  fingerprint — cross-batch exact dedup with NO watermark state: the
  only state is the checkpoint's file list and the output table
  itself (bounded by distinct curated documents).

Scale: archives are processed record-batch-at-a-time inside Arrow;
nothing is driver-materialized. At 100 TB the insert-only MERGE
target is partitioned (operators/merge.py header) so each micro-batch
rewrites only touched partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.operators.merge import ParquetTable, empty_frame
from ccgp_data_wrangling_spark.sources.warc import warc_records
from ccgp_data_wrangling_spark.streaming.incremental import fold_stream

__all__ = [
    "curate_warc_records",
    "warc_archive_records",
    "warc_curation_stream",
    "wds_landing_stream",
]

_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def curate_warc_records(recs: DataFrame, *, min_words: int = 3) -> DataFrame:
    """The curation stage shared verbatim by batch and stream: keep
    HTTP-200 responses with ≥ ``min_words`` words, fingerprint the
    extracted text (xxhash64 — the exact-dedup key downstream)."""
    words = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != ""
    )
    return (
        recs.where(F.col("http_status") == 200)
        .withColumn("n_words", F.size(words).cast("int"))
        .where(F.col("n_words") >= min_words)
        .select(
            F.xxhash64("text").alias("fingerprint"),
            "target_uri",
            "warc_date",
            "text",
            "n_words",
        )
    )


def warc_archive_records(
    spark: SparkSession, archive_dir: str, *, streaming: bool = True
) -> DataFrame:
    """WARC records from a directory of ``.warc.gz`` archives, as a
    streaming (file-source discovery) or batch DataFrame — identical
    downstream plan either way."""
    reader = (
        spark.readStream.format("binaryFile").schema(_BINARYFILE_SCHEMA)
        if streaming
        else spark.read.format("binaryFile")
    )
    raw = reader.option("pathGlobFilter", "*.warc.gz").load(archive_dir)
    return warc_records(
        raw.select(
            F.xxhash64("path").alias("archive_id"),
            F.col("content").alias("payload"),
        )
    )


def warc_curation_stream(
    spark: SparkSession,
    archive_dir: str,
    target: ParquetTable,
    *,
    checkpoint_dir: str,
    min_words: int = 3,
):
    """Drain new WARC archives into ``target`` (keyed on
    ``fingerprint``): discovery → explode → curate → insert-only
    MERGE, in the cron-cadence execution model (T3); re-runs are
    no-ops (checkpoint skips seen files, the MERGE skips seen
    fingerprints). A missing target is bootstrapped with the empty
    curated schema, so a fresh landing directory needs no manual init.
    Returns the StreamingQuery."""
    from ccgp_data_wrangling_spark.sources.warc import WARC_RECORD_SCHEMA

    if not target.exists():
        target.init(
            curate_warc_records(
                empty_frame(spark, WARC_RECORD_SCHEMA), min_words=min_words
            ).schema
        )
    return fold_stream(
        warc_archive_records(spark, archive_dir, streaming=True),
        lambda b: target.insert_only(curate_warc_records(b, min_words=min_words)),
        checkpoint_dir=checkpoint_dir,
    )


def wds_landing_stream(
    spark: SparkSession,
    shard_dir: str,
    target: ParquetTable,
    *,
    checkpoint_dir: str,
):
    """WebDataset landing directory → sample table: the tar-shard
    twin of :func:`warc_curation_stream`. New ``*.tar`` shards drain
    through the ``wds_samples`` explode into an insert-only MERGE
    keyed on ``(shard_id, sample_key)``; parts stay
    ``map<string, binary>`` for downstream kernels. Checkpoint = the
    processed-shard ledger; re-drains are no-ops."""
    from ccgp_data_wrangling_spark.sources.webdataset import (
        WDS_SAMPLE_SCHEMA,
        wds_samples,
    )

    if not target.exists():
        target.init(WDS_SAMPLE_SCHEMA)
    raw = (
        spark.readStream.format("binaryFile")
        .schema(_BINARYFILE_SCHEMA)
        .option("pathGlobFilter", "*.tar")
        .load(shard_dir)
    )
    shards = raw.select(
        F.xxhash64("path").alias("shard_id"),
        F.col("content").alias("payload"),
    )
    return fold_stream(
        wds_samples(shards, id_col="shard_id"),
        target.insert_only,
        checkpoint_dir=checkpoint_dir,
    )
