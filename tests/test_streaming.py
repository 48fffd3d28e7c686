"""T1 ledger ingest + T2 streaming MERGE through ``fold_stream``
(idempotency included)."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.operators.merge import ParquetTable
from ccgp_data_wrangling_spark.sources import read_submitted_sheet
from ccgp_data_wrangling_spark.streaming import LedgerIngest, fold_stream


def _ledger(spark, tmp_path) -> ParquetTable:
    led = ParquetTable(spark, str(tmp_path / "ledger"), "file_name")
    led.init(
        spark.createDataFrame(
            [], "file_name string, error string, processed_at timestamp"
        )
    )
    return led


def _write_sheet(path, names):
    path.write_text(
        "junk preamble\n*sample_name\tlat\n"
        + "".join(f"{n}\t1.0\n" for n in names)
    )


def test_ledger_ingest_skips_processed_and_quarantines(spark, tmp_path):
    ok1 = tmp_path / "ok1.tsv"
    ok2 = tmp_path / "ok2.tsv"
    bad = tmp_path / "bad.tsv"
    _write_sheet(ok1, ["A1", "A2"])
    _write_sheet(ok2, ["B1"])
    bad.write_text("no header at all\n1\t2\n")

    ing = LedgerIngest(spark, _ledger(spark, tmp_path))
    discovered = spark.createDataFrame(
        [(str(ok1),), (str(ok2),), (str(bad),)], ["file_name"]
    )
    parsed, n_ok, n_fail = ing.run(
        discovered, lambda f: read_submitted_sheet(spark, f)
    )
    assert (n_ok, n_fail) == (2, 1)
    assert parsed.count() == 3  # A1, A2, B1

    led = ing.ledger.read()
    assert led.count() == 3
    assert led.where(F.col("error").isNotNull()).count() == 1

    # second run: the two OK files are skipped; the failed one retries
    parsed2, n_ok2, n_fail2 = ing.run(
        discovered, lambda f: read_submitted_sheet(spark, f)
    )
    assert (n_ok2, n_fail2) == (0, 1)
    assert parsed2 is None
    # force reprocesses everything
    assert ing.pending(discovered, force=True).count() == 3


def test_merge_stream_insert_only_idempotent(spark, tmp_path):
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    (src_dir / "batch1.csv").write_text("file_name,filesize\nf1,10\nf2,20\n")

    target = ParquetTable(spark, str(tmp_path / "reads"), "file_name")
    target.init(
        spark.createDataFrame([("f1", 99)], "file_name string, filesize long")
    )

    stream = (
        spark.readStream.schema("file_name string, filesize long")
        .option("header", True)
        .csv(str(src_dir))
    )
    q = fold_stream(
        stream, target.insert_only, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(60)

    rows = {r.file_name: r.filesize for r in target.read().collect()}
    # f1 existed → untouched ($setOnInsert); f2 inserted
    assert rows == {"f1": 99, "f2": 20}

    # drop a new file containing an already-seen key + a new key;
    # restart from the same checkpoint → only the new file is read
    (src_dir / "batch2.csv").write_text("file_name,filesize\nf2,77\nf3,30\n")
    stream2 = (
        spark.readStream.schema("file_name string, filesize long")
        .option("header", True)
        .csv(str(src_dir))
    )
    q2 = fold_stream(
        stream2, target.insert_only, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q2.awaitTermination(60)
    rows = {r.file_name: r.filesize for r in target.read().collect()}
    assert rows == {"f1": 99, "f2": 20, "f3": 30}


def test_merge_stream_upsert(spark, tmp_path):
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    (src_dir / "b.csv").write_text("k,v\na,1\na,1\nb,2\n")
    target = ParquetTable(spark, str(tmp_path / "t"), "k")
    target.init(spark.createDataFrame([("a", 0)], "k string, v long"))
    stream = (
        spark.readStream.schema("k string, v long").option("header", True)
        .csv(str(src_dir))
    )
    q = fold_stream(
        stream,
        # a batch may hold a key twice; set-oriented MERGE needs unique keys
        lambda b: target.upsert(b.dropDuplicates(target.keys)),
        checkpoint_dir=str(tmp_path / "ck"),
    )
    q.awaitTermination(60)
    rows = {r.k: r.v for r in target.read().collect()}
    assert rows == {"a": 1, "b": 2}


def test_windowed_event_counts_stream_matches_batch(spark, tmp_path):
    """Streaming windowed rollup (watermark + tumbling window) equals
    the batch computation over the same data."""
    from ccgp_data_wrangling_spark.catalog import load_table
    from ccgp_data_wrangling_spark.streaming.incremental import (
        windowed_event_counts,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src_dir = tmp_path / "events_stream"
    events.limit(2000).write.parquet(str(src_dir))
    schema = spark.read.parquet(str(src_dir)).schema

    batch = windowed_event_counts(spark.read.parquet(str(src_dir)))
    expected = {
        (r.window_start, r.user_id): r.n_events for r in batch.collect()
    }

    stream = spark.readStream.schema(schema).parquet(str(src_dir))
    out_rows = []

    def sink(b, _epoch):
        out_rows.extend(b.collect())

    q = (
        windowed_event_counts(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.window_start, r.user_id): r.n_events for r in out_rows}
    assert got == expected


def test_interval_join_stream_matches_batch(spark, tmp_path):
    """Stream-stream time-bounded join (watermarked) produces exactly
    the rows of the identical batch join."""
    from ccgp_data_wrangling_spark.catalog import load_table
    from ccgp_data_wrangling_spark.streaming.incremental import (
        interval_join_streams,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    p_dir, c_dir = tmp_path / "p", tmp_path / "c"
    purchases.write.parquet(str(p_dir))
    clicks.write.parquet(str(c_dir))

    kw = dict(on="user_id", left_ts="p_ts", right_ts="c_ts", lookback="2 hours")
    batch = interval_join_streams(
        spark.read.parquet(str(p_dir)), spark.read.parquet(str(c_dir)), **kw
    )
    expected = sorted((r.p_id, r.c_id) for r in batch.collect())
    assert expected, "fixture must produce at least one joined pair"

    ps = spark.readStream.schema(
        spark.read.parquet(str(p_dir)).schema
    ).parquet(str(p_dir))
    cs = spark.readStream.schema(
        spark.read.parquet(str(c_dir)).schema
    ).parquet(str(c_dir))
    out_rows = []

    q = (
        interval_join_streams(ps, cs, **kw)
        .writeStream.foreachBatch(lambda b, _e: out_rows.extend(b.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ij"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r.p_id, r.c_id) for r in out_rows)
    assert got == expected


def test_ledger_run_bounded_backlog(spark, tmp_path):
    """A pathological 10k-file backlog cannot blow the driver: one run
    touches at most max_files names (names only — no payloads), the
    rest stay pending for the next cron run."""
    from ccgp_data_wrangling_spark.operators.merge import ParquetTable
    from ccgp_data_wrangling_spark.streaming.incremental import LedgerIngest

    ledger = ParquetTable(spark, str(tmp_path / "ledger"), "file_name")
    ledger.init(
        spark.createDataFrame(
            [], "file_name string, error string, processed_at timestamp"
        )
    )
    ing = LedgerIngest(spark, ledger)
    discovered = spark.range(10_000).select(
        F.concat(F.lit("sheet_"), F.col("id")).alias("file_name")
    )

    ok_files = {"sheet_0", "sheet_1", "sheet_2"}

    def process(fname: str):
        if fname in ok_files:
            return spark.createDataFrame([(fname,)], "src string")
        raise RuntimeError("corrupt sheet")

    out, n_ok, n_failed = ing.run(discovered, process, max_files=500)
    assert (n_ok, n_failed) == (3, 497)
    assert out is not None and out.count() == 3
    # successes are off the pending list; failures stay retryable
    assert ing.pending(discovered).count() == 10_000 - 3


def test_dedup_stream_matches_batch(spark, tmp_path):
    """Streaming exact dedup (dropDuplicatesWithinWatermark) keeps
    exactly one row per key when duplicates land inside the watermark
    window — same key set as the batch dual."""
    from ccgp_data_wrangling_spark.catalog import load_table
    from ccgp_data_wrangling_spark.streaming.incremental import dedup_stream

    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(1000)
    # plant duplicates: every event twice (identical content hash key)
    doubled = events.unionByName(events)
    src_dir = tmp_path / "dedup_stream"
    doubled.write.parquet(str(src_dir))
    schema = spark.read.parquet(str(src_dir)).schema

    batch_keys = {
        r.event_id
        for r in dedup_stream(
            spark.read.parquet(str(src_dir)), key_cols=["event_id"]
        ).collect()
    }

    stream = spark.readStream.schema(schema).parquet(str(src_dir))
    out = []

    def sink(b, _epoch):
        out.extend(b.collect())

    q = (
        dedup_stream(stream, key_cols=["event_id"], watermark_delay="365 days")
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [r.event_id for r in out]
    assert sorted(got) == sorted(batch_keys)  # one emission per key


def test_session_window_rollup_stream_matches_batch(spark, tmp_path):
    """Streaming session-window aggregation (dynamic gap + watermark)
    equals the batch computation over the same data, and the session
    boundaries obey the gap rule."""
    from ccgp_data_wrangling_spark.catalog import load_table
    from ccgp_data_wrangling_spark.streaming.incremental import (
        session_window_rollup,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src_dir = tmp_path / "events_sessions"
    events.limit(2000).write.parquet(str(src_dir))
    schema = spark.read.parquet(str(src_dir)).schema

    batch = session_window_rollup(
        spark.read.parquet(str(src_dir)), gap="10 minutes"
    )
    rows = batch.collect()
    expected = {
        (r.session_start, r.session_end, r.user_id): (r.n_events, r.total_value)
        for r in rows
    }
    # gap rule: same user's sessions are separated by > gap
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.session_start, r.session_end))
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _e2) in zip(spans, spans[1:]):
            assert e1 < s2  # session_window end already includes the gap

    stream = spark.readStream.schema(schema).parquet(str(src_dir))
    out_rows = []

    def sink(b, _epoch):
        out_rows.extend(b.collect())

    q = (
        session_window_rollup(stream, gap="10 minutes")
        .writeStream.foreachBatch(sink)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.session_start, r.session_end, r.user_id): (r.n_events, r.total_value)
        for r in out_rows
    }
    assert got == expected


def test_interval_intersect_stream_matches_batch(spark, tmp_path):
    """Streaming interval×interval overlap join (grid cells + emit-once)
    equals the identical batch computation AND a brute-force overlap
    join — each pair exactly once, no dedup state."""
    from ccgp_data_wrangling_spark.catalog import load_table
    from ccgp_data_wrangling_spark.streaming.incremental import (
        interval_intersect_stream,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("p_start"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("p_end"),
            F.col("event_id").alias("p_id"),
        )
        .limit(400)
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("ts").alias("c_start"),
            (F.col("ts") + F.expr("INTERVAL 20 MINUTES")).alias("c_end"),
            F.col("event_id").alias("c_id"),
        )
        .limit(400)
    )
    p_dir, c_dir = tmp_path / "pi", tmp_path / "ci"
    purchases.write.parquet(str(p_dir))
    clicks.write.parquet(str(c_dir))
    pb, cb = spark.read.parquet(str(p_dir)), spark.read.parquet(str(c_dir))

    kw = dict(
        on="user_id",
        left_start="p_start", left_end="p_end",
        right_start="c_start", right_end="c_end",
        bucket_sec=600, max_len_sec=3600,
    )
    batch = interval_intersect_stream(pb, cb, **kw)
    got_batch = sorted((r.p_id, r.c_id, r.overlap_sec) for r in batch.collect())

    # brute force half-open overlap on the same batch frames
    brute = pb.join(cb, "user_id").where(
        (F.col("p_start") < F.col("c_end")) & (F.col("c_start") < F.col("p_end"))
    ).select(
        "p_id", "c_id",
        (
            F.unix_timestamp(F.least("p_end", "c_end"))
            - F.unix_timestamp(F.greatest("p_start", "c_start"))
        ).alias("ov"),
    )
    expected = sorted((r.p_id, r.c_id, r.ov) for r in brute.collect())
    assert expected, "fixture must produce overlapping pairs"
    assert got_batch == expected

    ps = spark.readStream.schema(pb.schema).parquet(str(p_dir))
    cs = spark.readStream.schema(cb.schema).parquet(str(c_dir))
    out_rows = []
    q = (
        interval_intersect_stream(ps, cs, **kw)
        .writeStream.foreachBatch(lambda b, _e: out_rows.extend(b.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_iis"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_stream = sorted((r.p_id, r.c_id, r.overlap_sec) for r in out_rows)
    assert got_stream == expected


def test_interval_intersect_stream_drops_overlong_intervals(spark):
    """Rows longer than max_len_sec are excluded by contract — the
    length cap is what bounds streaming state."""
    from datetime import datetime

    from ccgp_data_wrangling_spark.streaming.incremental import (
        interval_intersect_stream,
    )

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    t1 = datetime(2024, 1, 1, 0, 10, 0)
    t_far = datetime(2024, 1, 1, 6, 0, 0)
    left = spark.createDataFrame(
        [("u", t0, t_far, "long"), ("u", t0, t1, "short")],
        "user_id string, s timestamp, e timestamp, lid string",
    )
    right = spark.createDataFrame(
        [("u", t0, t1, "r1")],
        "user_id string, rs timestamp, re timestamp, rid string",
    )
    got = interval_intersect_stream(
        left, right,
        on="user_id", left_start="s", left_end="e",
        right_start="rs", right_end="re",
        bucket_sec=300, max_len_sec=3600,
    ).collect()
    assert {r.lid for r in got} == {"short"}
