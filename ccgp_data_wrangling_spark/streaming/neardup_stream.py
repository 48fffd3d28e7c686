"""Incremental MinHash-LSH near-duplicate detection over a stream.

The batch operator (operators/dedup.minhash_neardup_pairs) answers
"which pairs in this corpus are near-dups". A training-data pipeline
asks the incremental form: *the corpus grew by a delta — which NEW
pairs appeared?* Rescanning 100 TB per day to re-answer the batch
question is the thing to avoid; the signature table (1000× smaller
than the text) is exactly the state that makes the delta form cheap:

* fold(delta): signatures for the delta only; candidates from a
  band-bucket join of the DELTA against (state ∪ delta) — old×old
  pairs were found when their second member arrived, so they are
  never re-joined; exact-Jaccard verify on the shingle arrays; the
  confirmed pairs append to a pairs ledger and the delta's signatures
  merge into the state.
* Replay safety: ids already present in the state are dropped from
  the delta first, so a re-delivered micro-batch finds an empty delta
  and changes nothing (idempotent under foreachBatch epoch replay).

Drive it from a document stream with
``streaming.incremental.fold_stream(stream, lambda b: state.fold(b,
"id", "text"), checkpoint_dir=...)``. The delta fold itself
(:class:`BandedDeltaState`) is shared with the Hamming state
(streaming/hamming_stream.py); the signatures, bands and verify are
the batch operators' own (operators/dedup.py).

State size is O(corpus signatures), not O(corpus); each fold's cost
is O(delta × collision rate), not O(corpus²).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ccgp_data_wrangling_spark.operators.dedup import (
    _band_table,
    _cap_buckets,
    _jaccard_verify,
    minhash_index,
)
from ccgp_data_wrangling_spark.operators.merge import ParquetTable, empty_frame

__all__ = ["BandedDeltaState", "MinHashDedupState"]


class BandedDeltaState:
    """Persisted ``(id, ...)`` state + append-only discovered-pairs
    ledger, grown one delta at a time by banded candidate search.
    A subclass names its state table (``_state_name``) and ledger
    schema (``_pairs_schema``)."""

    _state_name: str
    _pairs_schema: str

    def __init__(self, spark: SparkSession, path: str, *, max_bucket: int | None):
        self.spark = spark
        self.max_bucket = max_bucket
        self._state = ParquetTable(
            spark, os.path.join(path, self._state_name), key="id"
        )
        self._pairs = ParquetTable(
            spark, os.path.join(path, "pairs"), key=["id_a", "id_b"]
        )

    def pairs(self) -> DataFrame:
        if not self._pairs.exists():
            return empty_frame(self.spark, self._pairs_schema)
        return self._pairs.read()

    def _fold_delta(
        self,
        new: DataFrame,
        bands: Callable[[DataFrame], DataFrame],
        verify: Callable[[DataFrame, DataFrame], DataFrame],
    ) -> None:
        """Fold the ``(id, ...)`` delta ``new``. ``bands`` maps an
        ``(id, ...)`` frame to ``(id, <bucket key>...)`` rows;
        ``verify`` maps candidate ``(id_a, id_b)`` pairs and the corpus
        to the confirmed pairs, in the ledger schema. Candidates are
        bands(delta) ⨝ bands(state ∪ delta), never state × state."""
        if self._state.exists():
            # replay safety: drop ids the state already holds
            new = new.join(self._state.read().select("id"), "id", "left_anti")
        # localCheckpoint: the delta is reused by the band join, the
        # verify re-attach, and the state merge — and it must be
        # materialized BEFORE the state swap below invalidates the
        # state parquet it was anti-joined against
        new = new.localCheckpoint(eager=True)
        if not new.take(1):
            return
        corpus = new
        if self._state.exists():
            corpus = self._state.read().unionByName(new)
        corpus = corpus.localCheckpoint(eager=True)

        banded_all = _cap_buckets(bands(corpus), self.max_bucket)
        keys = [c for c in banded_all.columns if c != "id"]
        cands = (
            bands(new)
            .select(*keys, F.col("id").alias("id_new"))
            .join(banded_all, keys)
            .where(F.col("id_new") != F.col("id"))
            .select(
                F.least("id_new", "id").alias("id_a"),
                F.greatest("id_new", "id").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        found = verify(cands, corpus).localCheckpoint(eager=True)

        def append(old: DataFrame, part: DataFrame) -> DataFrame:
            return old.unionByName(part)

        self._pairs.fold(found, append)
        self._state.fold(new, append)


class MinHashDedupState(BandedDeltaState):
    """Persisted ``(id, sh, sig)`` signature state (a
    :func:`~..operators.dedup.minhash_index` frame) + discovered-pairs
    ledger ``(id_a, id_b, jaccard)``."""

    _state_name = "sigs"
    _pairs_schema = "id_a long, id_b long, jaccard double"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        threshold: float = 0.7,
        n_hashes: int = 64,
        bands: int = 16,
        shingle_k: int = 5,
        seed: int = 42,
        max_bucket: int = 1000,
    ):
        super().__init__(spark, path, max_bucket=max_bucket)
        self.threshold = threshold
        self.n_hashes = n_hashes
        self.bands = bands
        self.shingle_k = shingle_k
        self.seed = seed

    def signatures(self) -> DataFrame:
        return self._state.read()

    def fold(self, batch: DataFrame, id_col: str, text_col: str) -> None:
        self._fold_delta(
            minhash_index(
                batch,
                id_col,
                text_col,
                n_hashes=self.n_hashes,
                shingle_k=self.shingle_k,
                seed=self.seed,
            ),
            bands=lambda sigs: _band_table(sigs, self.n_hashes, self.bands),
            verify=lambda cands, corpus: _jaccard_verify(
                cands, corpus, self.threshold
            ),
        )
