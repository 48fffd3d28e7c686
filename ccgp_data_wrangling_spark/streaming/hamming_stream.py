"""Incremental Hamming near-dup over bit fingerprints — the streaming
twin of ``dedup.hamming_neardup_pairs`` and the image-side companion
of the MinHash state (streaming/neardup_stream.py): new fingerprints
(pHash of freshly crawled images, audio fingerprints, simhashes) fold
into a persisted state, and each batch discovers exactly the near-dup
pairs that involve at least one NEW fingerprint.

Join discipline per batch (the shared
:class:`~.neardup_stream.BandedDeltaState` fold): candidates =
bands(delta) ⨝ bands(state ∪ delta) — pigeonhole-complete for
``max_hamming < n_bands`` like the batch operator, whose band layout,
bands and verify it reuses; delta-sized on the left, never state ×
state. Verify is one ``bit_count(xor)`` per candidate. Replay-safe:
ids already in state are dropped before folding, so re-processing a
batch is a no-op (the KMV-class idempotency the streaming layer
standardizes on). Drive it with
``streaming.incremental.fold_stream(stream, state.fold,
checkpoint_dir=...)``.

State = one (id, fingerprint) row per document ever seen — 16 bytes
each, the minimum any incremental dedup can keep — plus the
append-only discovered-pairs ledger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.operators.dedup import (
    _hamming_bands,
    _hamming_layout,
    _hamming_verify,
)
from ccgp_data_wrangling_spark.streaming.neardup_stream import BandedDeltaState

__all__ = ["HammingDedupState"]


class HammingDedupState(BandedDeltaState):
    """Persisted ``(id, fp)`` fingerprint state + discovered-pairs
    ledger ``(id_a, id_b, hamming)``. The band layout is derived and
    validated as in ``dedup.hamming_neardup_pairs``; ``max_band`` is
    its hot-bucket cap."""

    _state_name = "fps"
    _pairs_schema = "id_a long, id_b long, hamming int"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        max_hamming: int = 3,
        n_bands: int | None = None,
        band_width: int | None = None,
        max_band: int | None = None,
    ):
        self.n_bands, self.band_width = _hamming_layout(
            max_hamming, n_bands, band_width
        )
        super().__init__(spark, path, max_bucket=max_band)
        self.max_hamming = max_hamming

    def fingerprints(self) -> DataFrame:
        return self._state.read()

    def fold(self, batch: DataFrame, id_col: str = "id", fp_col: str = "fp") -> None:
        self._fold_delta(
            batch.select(F.col(id_col).alias("id"), F.col(fp_col).alias("fp")),
            bands=lambda fps: _hamming_bands(fps, self.n_bands, self.band_width),
            verify=lambda cands, corpus: _hamming_verify(
                cands, corpus, self.max_hamming
            ),
        )
