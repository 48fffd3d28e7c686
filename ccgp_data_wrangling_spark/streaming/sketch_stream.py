"""Incremental sketch maintenance over Structured Streaming.

The point of a mergeable sketch is that *state never grows with
data*: each micro-batch reduces to a bounded partial, folds into the
persisted state, and the source data is never revisited. At 100 TB /
day that is the difference between "distinct users so far" being a
nightly full rescan and an O(groups × k) parquet file updated per
batch.

Spark's built-in streaming aggregations can't express KMV (the
combine is "union arrays, keep k smallest", not a sum), so each
state's ``fold`` runs per micro-batch: drive it with
``streaming.incremental.fold_stream(stream, lambda b: state.fold(b,
...), checkpoint_dir=...)``. A fold is batch → partial (e.g.
:func:`~..operators.sketches.kmv_partial`) →
:meth:`~..operators.merge.ParquetTable.fold`, which creates the state
table from the first partial and afterwards swaps in the sketch's
merge of state and partial (copy-on-write: tmp-write + atomic
rename). foreachBatch gives exactly-once per epoch via the
checkpoint; replaying a batch after a crash re-merges the same hash
set — KMV merge is idempotent (set union), so the state is correct
either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.operators.merge import ParquetTable
from ccgp_data_wrangling_spark.operators.sketches import (
    cms_merge,
    cms_sketch,
    hll_merge,
    hll_partial,
    hll_readout,
    kmv_merge,
    kmv_partial,
    kmv_readout,
    vhist_merge,
    vhist_partial,
    vhist_quantiles,
)

__all__ = [
    "KMVStreamState",
    "CMSStreamState",
    "HLLStreamState",
    "DriftStreamState",
    "VHistStreamState",
    "TopKStreamState",
]


class KMVStreamState:
    """Persisted ``(g, kmin)`` KMV state at ``path``."""

    def __init__(self, spark: SparkSession, path: str, *, k: int = 64):
        self.k = k
        self._table = ParquetTable(spark, path, key="g")

    def read(self) -> DataFrame:
        return self._table.read()

    def fold(self, batch: DataFrame, group_col: str, value_col: str) -> None:
        """Merge one batch of raw rows into the state (create if new)."""
        self._table.fold(
            kmv_partial(batch, group_col, value_col, k=self.k),
            lambda state, part: kmv_merge([state, part], k=self.k),
        )

    def estimate(self, group_col: str) -> DataFrame:
        return kmv_readout(self.read(), group_col, k=self.k)


class CMSStreamState:
    """Persisted ``(row, col, cell)`` count-min state at ``path``.

    CMS is linear, so the fold is just cell-wise addition — but NOT
    idempotent under batch replay (unlike KMV's set union), so the
    exactly-once guarantee leans entirely on foreachBatch's epoch
    checkpointing; a duplicated fold would double-count. The state
    stays ≤ depth·width rows forever.
    """

    def __init__(
        self, spark: SparkSession, path: str, *, depth: int = 4, width: int = 256
    ):
        self.depth = depth
        self.width = width
        self._table = ParquetTable(spark, path, key=["row", "col"])

    def read(self) -> DataFrame:
        return self._table.read()

    def fold(self, batch: DataFrame, item_col: str, weight_col: str) -> None:
        self._table.fold(
            cms_sketch(
                batch, item_col, weight_col, depth=self.depth, width=self.width
            ),
            lambda state, part: cms_merge([state, part]),
        )


class HLLStreamState:
    """Persisted ``(g, register, rho)`` HyperLogLog state at ``path``.

    The fold is MAX per (g, register) — idempotent like KMV's set
    union, so a replayed batch after a crash re-maxes the same
    registers and the state stays correct regardless of epoch
    replay. State is ≤ 2^HLL_P rows per group forever.
    """

    def __init__(self, spark: SparkSession, path: str):
        self._table = ParquetTable(spark, path, key=["g", "register"])

    def read(self) -> DataFrame:
        return self._table.read()

    def fold(self, batch: DataFrame, group_col: str, value_col: str) -> None:
        self._table.fold(
            hll_partial(batch, group_col, value_col),
            lambda state, part: hll_merge([state, part]),
        )

    def estimate(self, group_col: str) -> DataFrame:
        return hll_readout(self.read(), group_col)


class DriftStreamState:
    """Streaming drift monitor: frozen reference bins + additive
    comparison histogram at ``path``.

    ``init_reference`` computes decile bounds + reference counts ONCE
    (operators/drift.reference_bins); each micro-batch fold bins the
    batch against the frozen bounds and ADDS histogram counts —
    state stays ≤ groups × n_bins rows. ``psi()`` reads the monitor
    out at any time. Additive fold = CMS-class replay caveat: epoch
    checkpointing (foreachBatch) provides the exactly-once.
    """

    def __init__(self, spark: SparkSession, path: str, *, n_bins: int = 10):
        self.n_bins = n_bins
        self._ref = ParquetTable(spark, os.path.join(path, "ref"), key=["g", "bin"])
        self._cmp = ParquetTable(spark, os.path.join(path, "cmp"), key=["g", "bin"])

    def init_reference(
        self, ref: DataFrame, *, group_col: str, value_col: str
    ) -> None:
        from ccgp_data_wrangling_spark.operators.drift import reference_bins

        self._ref.init(
            reference_bins(
                ref, group_col=group_col, value_col=value_col, n_bins=self.n_bins
            )
        )

    def fold(self, batch: DataFrame, *, group_col: str, value_col: str) -> None:
        from ccgp_data_wrangling_spark.operators.drift import bin_counts

        self._cmp.fold(
            bin_counts(
                batch,
                self._ref.read().select("g", "bounds"),
                group_col=group_col,
                value_col=value_col,
            ),
            lambda state, part: state.unionByName(part)
            .groupBy("g", "bin")
            .agg(F.sum("c").alias("c")),
        )

    def psi(self) -> DataFrame:
        from ccgp_data_wrangling_spark.operators.drift import psi_readout

        return psi_readout(
            self._ref.read(), self._cmp.read(), n_bins=self.n_bins
        )


class VHistStreamState:
    """Persisted ``(g, v_s, cnt)`` value-keyed histogram digest at
    ``path`` — streaming quantiles without a pre-declared range.

    Additive fold (cnt sums), so like CMS the exactly-once guarantee
    leans on foreachBatch epoch checkpointing. State is bounded by
    the distinct rounded values per group.
    """

    def __init__(self, spark: SparkSession, path: str, *, scale: int = 100):
        self.scale = scale
        self._table = ParquetTable(spark, path, key=["g", "v_s"])

    def read(self) -> DataFrame:
        return self._table.read()

    def fold(self, batch: DataFrame, group_col: str, value_col: str) -> None:
        self._table.fold(
            vhist_partial(batch, group_col, value_col, scale=self.scale),
            lambda state, part: vhist_merge([state, part]),
        )

    def quantiles(self, group_col: str, qs=(0.5, 0.9, 0.99)) -> DataFrame:
        return vhist_quantiles(self.read(), group_col, qs, scale=self.scale)


class TopKStreamState:
    """Persisted per-query retrieval top-k — incremental top-k
    similarity search (the PAPERS.md EDBT-2020 interactive-session
    family): as corpus batches arrive, each query's stored top-k is
    challenged only by the NEW rows; the already-seen corpus is never
    rescanned.

    State = ``(query_id, id, score)``, ≤ k rows per query forever.
    Fold: score the batch against the (small, broadcast) query set,
    union with the stored top-k, keep the per-query k best
    (score desc, id asc — deterministic). Replay-idempotent: scores
    are pure functions of (query, row) and the union dedups on
    (query_id, id), so re-folding a crashed batch reproduces the same
    state, like KMV's set union and unlike CMS's counter add.

    Scale: per batch one broadcast nested-loop score over |batch|×|Q|
    (exact brute force — LSH/IVF candidate generation composes
    upstream of the fold, exactly as in knn.py), then a per-query
    window over ≤ k + |batch hits| rows. The state readout is always
    instant — the interactive-session property.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        queries: DataFrame,
        *,
        k: int = 10,
        query_id_col: str = "query_id",
        query_vec_col: str = "qvec",
    ):
        self.k = k
        self.queries = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).cast("array<double>").alias("__qv"),
        )
        self._table = ParquetTable(spark, path, key=["query_id", "id"])

    def read(self) -> DataFrame:
        return self._table.read()

    def fold(self, batch: DataFrame, id_col: str, vec_col: str) -> None:
        from ccgp_data_wrangling_spark.operators.knn import cosine_sim

        scored = batch.crossJoin(F.broadcast(self.queries)).select(
            "query_id",
            F.col(id_col).alias("id"),
            F.round(
                cosine_sim(F.col(vec_col).cast("array<double>"), F.col("__qv")), 4
            ).alias("score"),
        )
        w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))

        def best_k(df: DataFrame) -> DataFrame:
            return (
                df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") <= self.k)
                .drop("__rn")
            )

        # the first write is the batch's own k best; later ones re-rank
        # the stored top-k with every scored row of the batch
        self._table.fold(
            best_k(scored),
            lambda state, _part: best_k(
                state.unionByName(scored).dropDuplicates(["query_id", "id"])
            ),
        )

    def topk(self) -> DataFrame:
        """(query_id, id, score, rank) — the live per-query top-k."""
        w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
        return self.read().withColumn("rank", F.row_number().over(w))


