"""Incremental MinHash near-dup (streaming/neardup_stream.py):
the ledger after streaming the corpus in chunks must equal the batch
operator's answer on the whole corpus."""

from __future__ import annotations

from ccgp_data_wrangling_spark.operators.dedup import minhash_neardup_pairs
from ccgp_data_wrangling_spark.streaming.incremental import fold_stream
from ccgp_data_wrangling_spark.streaming.neardup_stream import MinHashDedupState


def _corpus(spark):
    rows = []
    for d in range(60):
        words = [f"w{(d * 13 + j) % 80}" for j in range(40)]
        rows.append((d, " ".join(words)))
    # planted near-dups across chunk boundaries: docs 0-9 get copies
    # with one word changed, ids 1000+ (land in a LATER chunk)
    for d in range(10):
        words = [f"w{(d * 13 + j) % 80}" for j in range(40)]
        words[0] = "CHANGED"
        rows.append((1000 + d, " ".join(words)))
    return rows


def _stream_in_chunks(spark, tmp_path, rows, n_chunks=3):
    src = tmp_path / "src"
    size = (len(rows) + n_chunks - 1) // n_chunks
    for j in range(n_chunks):
        chunk = rows[j * size : (j + 1) * size]
        if chunk:
            spark.createDataFrame(
                chunk, "doc_id long, text string"
            ).coalesce(1).write.mode("append").parquet(str(src))
    return (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )


def test_incremental_pairs_match_batch(spark, tmp_path):
    rows = _corpus(spark)
    state = MinHashDedupState(
        spark, str(tmp_path / "state"), threshold=0.6, max_bucket=10_000
    )
    q = fold_stream(
        _stream_in_chunks(spark, tmp_path, rows),
        lambda b: state.fold(b, "doc_id", "text"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    whole = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(
        map(
            tuple,
            minhash_neardup_pairs(
                whole, "doc_id", "text", threshold=0.6, max_bucket=10_000
            ).collect(),
        )
    )
    got = sorted(map(tuple, state.pairs().collect()))
    assert got == want
    assert len(want) >= 10  # the planted cross-chunk pairs exist
    # signature state covers the whole corpus
    assert state.signatures().count() == len(rows)


def test_incremental_replay_is_idempotent(spark, tmp_path):
    rows = _corpus(spark)[:40]
    state = MinHashDedupState(
        spark, str(tmp_path / "state"), threshold=0.6, max_bucket=10_000
    )
    q = fold_stream(
        _stream_in_chunks(spark, tmp_path, rows, n_chunks=2),
        lambda b: state.fold(b, "doc_id", "text"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    first = sorted(map(tuple, state.pairs().collect()))

    # feed the SAME rows again from a fresh stream dir (new files, so
    # the checkpoint does not skip them): every id is already in the
    # state, so the fold must be a no-op
    q2 = fold_stream(
        _stream_in_chunks(spark, tmp_path / "again", rows, n_chunks=2),
        lambda b: state.fold(b, "doc_id", "text"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(180)
    assert sorted(map(tuple, state.pairs().collect())) == first
    assert state.signatures().count() == len(rows)
