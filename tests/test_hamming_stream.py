"""Incremental Hamming near-dup (streaming/hamming_stream.py): the
pairs ledger after chunked folds must equal the batch operator over
the whole corpus; replaying a chunk is a no-op."""

from __future__ import annotations

import random

import pytest

from ccgp_data_wrangling_spark.operators.dedup import hamming_neardup_pairs
from ccgp_data_wrangling_spark.streaming.hamming_stream import HammingDedupState
from ccgp_data_wrangling_spark.streaming.incremental import fold_stream
from tests.conftest import jobs_in_group


def _corpus():
    rng = random.Random(9)
    rows = [(i, rng.getrandbits(63)) for i in range(80)]
    # planted twins of ids 0-9 flipping 1-3 bits, landing in LATER
    # chunks than their bases
    for i in range(10):
        fp = rows[i][1]
        for b in range(i % 3 + 1):
            fp ^= 1 << ((i * 11 + b * 7) % 63)
        rows.append((1000 + i, fp))
    return rows


def test_chunked_folds_match_batch_and_replay(spark, tmp_path):
    rows = _corpus()
    df_all = spark.createDataFrame(rows, "id long, fp long")
    want = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_neardup_pairs(
            df_all, "id", "fp", max_hamming=3, n_bands=8, band_width=8
        ).collect()
    )
    assert want  # twins must actually pair

    state = HammingDedupState(spark, str(tmp_path / "state"), max_hamming=3)
    chunks = [rows[:30], rows[30:60], rows[60:]]
    for chunk in chunks:
        state.fold(spark.createDataFrame(chunk, "id long, fp long"))
    got = sorted(
        (r.id_a, r.id_b, r.hamming) for r in state.pairs().collect()
    )
    assert got == want

    # replay: folding an already-seen chunk changes nothing
    state.fold(spark.createDataFrame(chunks[1], "id long, fp long"))
    got2 = sorted(
        (r.id_a, r.id_b, r.hamming) for r in state.pairs().collect()
    )
    assert got2 == want


def test_streaming_drain(spark, tmp_path):
    rows = _corpus()
    src = tmp_path / "src"
    for j in range(3):
        chunk = rows[j * 30 : (j + 1) * 30]
        if chunk:
            spark.createDataFrame(chunk, "id long, fp long").coalesce(
                1
            ).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema("id long, fp long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = HammingDedupState(spark, str(tmp_path / "state"), max_hamming=3)
    q = fold_stream(stream, state.fold, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    df_all = spark.createDataFrame(rows, "id long, fp long")
    want = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_neardup_pairs(
            df_all, "id", "fp", max_hamming=3, n_bands=8, band_width=8
        ).collect()
    )
    got = sorted(
        (r.id_a, r.id_b, r.hamming) for r in state.pairs().collect()
    )
    assert got == want


@pytest.mark.parametrize(
    "layout",
    [
        dict(max_hamming=3, n_bands=8),  # width missing
        dict(max_hamming=3, band_width=8),  # band count missing
        dict(max_hamming=4, n_bands=4, band_width=16),  # incomplete
        dict(max_hamming=3, n_bands=8, band_width=9),  # past bit 63
    ],
    ids=["no_width", "no_bands", "incomplete", "past_bit_63"],
)
def test_state_and_batch_reject_the_same_bad_layouts(spark, tmp_path, layout):
    """The streaming state and the batch operator share one layout
    check: each bad layout raises the same ValueError on the driver,
    before any Spark job."""
    df = spark.createDataFrame([(1, 5)], "id long, fp long")

    def build():
        with pytest.raises(ValueError) as state_err:
            HammingDedupState(spark, str(tmp_path / "state"), **layout)
        with pytest.raises(ValueError) as batch_err:
            hamming_neardup_pairs(df, "id", "fp", **layout)
        return str(state_err.value), str(batch_err.value)

    (state_msg, batch_msg), n_jobs = jobs_in_group(
        spark.sparkContext, "hamming_layout_check", build
    )
    assert state_msg == batch_msg
    assert n_jobs == 0
    assert not (tmp_path / "state").exists()
