"""Incremental C4-style line dedup — the streaming twin of
``operators/linededup.dedup_lines_first_wins``: as document batches
land (a crawl frontier, a WARC stream), each batch's documents are
rewritten keeping only lines whose first occurrence EVER SEEN lives
in this batch's documents — boilerplate that appeared in any earlier
batch is dropped forever.

First-wins semantics across the whole stream: a line's owner is the
smallest (doc_id, pos) among all documents processed so far, with
earlier batches always outranking later ones (their owners are
already in state and never displaced). Within a batch the operator's
global-min rule applies; replaying a batch is a no-op (its doc ids
already own their lines, so the rewrite reproduces itself — the
replay-idempotency the streaming layer standardizes on).

Join discipline per batch: lines(delta) ⨝ owners(state) on the line
key — delta-sized left side, never state × state. State = one
(line_hash, owner doc, pos) row per DISTINCT line ever seen; line
text is carried as an xxhash64 key (8 bytes) exactly like
span_dedup's optional hashed keys — collisions would merge unrelated
lines, at 64 bits a ~n²/2⁶⁵ event the batch operator family already
accepts for fingerprints.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.operators.corpus_stats import corpus_tokens
from ccgp_data_wrangling_spark.operators.merge import ParquetTable, empty_frame

__all__ = ["LineDedupState"]


class LineDedupState:
    """Persisted line-ownership state + per-batch document rewrite."""

    def __init__(
        self, spark: SparkSession, path: str, *, line_tokens: int = 8
    ):
        self.spark = spark
        self.line_tokens = line_tokens
        self._owners = ParquetTable(
            spark, os.path.join(path, "owners"), key="line_key"
        )

    def owners(self) -> DataFrame:
        if not self._owners.exists():
            return empty_frame(self.spark, "line_key long, id long, pos int")
        return self._owners.read()

    def _lines(self, batch: DataFrame, id_col: str, text_col: str) -> DataFrame:
        toks = corpus_tokens(text_col)
        n_lines = F.ceil(F.size(toks) / F.lit(self.line_tokens)).cast("int")
        arr = F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(
                F.slice(toks, i * self.line_tokens + 1, self.line_tokens),
                " ",
            ),
        )
        return batch.select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.when(F.size(toks) > 0, arr).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("pos", "line"),
        ).select(
            "id", F.col("pos").cast("int").alias("pos"),
            F.xxhash64("line").alias("line_key"), "line",
        )

    def fold(
        self,
        batch: DataFrame,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """Fold one batch; returns the rewritten batch documents
        (id, text_clean, n_lines, n_kept). Lines owned by earlier
        batches are dropped; new lines' owners (batch-global
        first-wins) enter state."""
        lines = self._lines(batch, id_col, text_col)
        # batch-internal first-wins
        w = Window.partitionBy("line_key")
        firsts = (
            lines.withColumn(
                "__min", F.min(F.struct("id", "pos")).over(w)
            )
            .where(
                (F.col("id") == F.col("__min.id"))
                & (F.col("pos") == F.col("__min.pos"))
            )
            .drop("__min")
        )
        # delta ⨝ state: earlier batches always outrank
        state = self.owners()
        new_owners = firsts.join(
            state.select("line_key"), "line_key", "left_anti"
        )
        # replay-idempotency: a line whose stored owner is THIS batch's
        # (id, pos) still counts as kept on replay
        kept = firsts.join(
            state.select(
                "line_key",
                F.col("id").alias("__oid"),
                F.col("pos").alias("__opos"),
            ),
            "line_key",
            "left",
        ).where(
            F.col("__oid").isNull()
            | (
                (F.col("__oid") == F.col("id"))
                & (F.col("__opos") == F.col("pos"))
            )
        ).select("id", "pos", "line")

        if self._owners.exists():
            # insert-only: owners are immutable; the left_anti above
            # guarantees no key collision, so a plain append suffices
            new_owners.select("line_key", "id", "pos").write.mode(
                "append"
            ).parquet(self._owners.path)
        else:
            self._owners.init(new_owners.select("line_key", "id", "pos"))

        rebuilt = kept.groupBy("id").agg(
            F.count(F.lit(1)).cast("int").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s.getField("line"),
                ),
                " ",
            ).alias("text_clean"),
        )
        toks = corpus_tokens(text_col)
        totals = batch.select(
            F.col(id_col).alias("id"),
            F.ceil(F.size(toks) / F.lit(self.line_tokens))
            .cast("int")
            .alias("n_lines"),
        )
        return totals.join(rebuilt, "id", "left").select(
            "id",
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
