"""Incremental processing: the reference's cron-driven ledger pattern
(T1/T2) and a Structured Streaming bridge over the same MERGE sinks.

* T1 processed-file ledger — reference ``update_metadata.py:24-44,
  97-105,176-183``: skip files already recorded in the ledger, force
  flag reprocesses, per-file errors are recorded (with message) so a
  bad file never blocks the rest and never silently retries forever.
* T2 insert-only discovery — reference ``update_reads.py:44-56``:
  new object-store listings land with ``WHEN NOT MATCHED INSERT``
  semantics; re-running is a no-op (idempotent by M2).
* Streaming bridge — ``fold_stream`` runs any readStream source into
  a per-batch fold (a :class:`ParquetTable` MERGE, or a sketch or
  near-dup state) inside ``foreachBatch`` under
  ``Trigger.AvailableNow``: exactly the reference's daily-cron
  incremental batch (T3), with checkpointed exactly-once progress.
  It is the engine's only streaming sink.

Scale notes: the ledger is keyed metadata (one row per file), always
tiny next to the data; its anti-join broadcasts. Each micro-batch
MERGE inherits ParquetTable's copy-on-write cost — at 100 TB,
partition the target and let the MERGE rewrite only touched
partitions (see operators/merge.py header).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ccgp_data_wrangling_spark.functions.temporal import ensure_ltz
from ccgp_data_wrangling_spark.operators.merge import ParquetTable


class LedgerIngest:
    """T1: ledger-gated per-file ingest.

    ``ledger`` rows: (file_name, error, processed_at). A file is
    reprocessed only under ``force``; files that previously FAILED are
    retried by default (matching the reference, which upserts an error
    doc and picks the file up again next run only with ``-f`` — we
    take the stricter choice of retrying errors automatically since
    the error record preserves the audit trail).
    """

    def __init__(self, spark: SparkSession, ledger: ParquetTable):
        self.spark = spark
        self.ledger = ledger

    def pending(self, discovered: DataFrame, *, force: bool = False) -> DataFrame:
        """Anti-join the ledger: discovered files not yet processed OK.

        ``discovered`` needs a ``file_name`` column (S7 drive listing /
        S3 listing shape).
        """
        if force:
            return discovered
        done = self.ledger.read().where(F.col("error").isNull()).select("file_name")
        return discovered.join(done, "file_name", "left_anti")

    def run(
        self,
        discovered: DataFrame,
        process_fn: Callable[[str], DataFrame],
        *,
        force: bool = False,
        max_files: int | None = 10_000,
    ) -> tuple[DataFrame | None, int, int]:
        """Process every pending file; record successes and failures.

        ``process_fn(file_name)`` returns the parsed DataFrame for one
        file (e.g. ``read_submitted_sheet``); failures are caught per
        file and recorded in the ledger with the error message
        (reference update_metadata.py:97-105). Returns (union of
        parsed frames or None, n_ok, n_failed).

        The per-file loop is driver-side by design: submitted
        spreadsheets arrive as individual small files through an API
        boundary (Drive), exactly like the reference; the OUTPUT is a
        distributed DataFrame. ``max_files`` bounds one run — only the
        pending file NAMES (not payloads) ever reach the driver, capped
        and streamed per-partition, so a pathological backlog cannot
        blow driver memory; the excess stays pending for the next cron
        run, which is the ledger's natural catch-up semantics.
        """
        pend = self.pending(discovered, force=force).select("file_name")
        if max_files is not None:
            pend = pend.limit(max_files)
        files = [r.file_name for r in pend.toLocalIterator()]
        parsed: list[DataFrame] = []
        entries: list[tuple[str, str | None]] = []
        for fname in files:
            try:
                parsed.append(process_fn(fname))
                entries.append((fname, None))
            except Exception as exc:  # noqa: BLE001 — quarantine, don't abort
                entries.append((fname, f"{type(exc).__name__}: {exc}"))
        if entries:
            ledger_rows = self.spark.createDataFrame(
                entries, "file_name string, error string"
            ).withColumn("processed_at", F.current_timestamp())
            self.ledger.upsert(ledger_rows)
        out = None
        if parsed:
            out = parsed[0]
            for p in parsed[1:]:
                out = out.unionByName(p, allowMissingColumns=True)
        return out, sum(1 for _, e in entries if e is None), sum(
            1 for _, e in entries if e is not None
        )


def fold_stream(
    stream: DataFrame, fold: Callable[[DataFrame], object], *, checkpoint_dir: str
) -> StreamingQuery:
    """Drain ``stream`` through ``fold`` (T2/T3): every micro-batch is
    passed to ``fold`` inside ``foreachBatch``, and
    ``Trigger.AvailableNow`` processes everything available, then
    stops — the reference's daily-cron cadence (T3), with the
    checkpoint giving exactly-once progress across runs.

    ``fold`` is any per-batch write: an insert-only MERGE
    (``target.insert_only``, idempotent by M2), an upsert
    (``lambda b: target.upsert(b.dropDuplicates(target.keys))`` — a
    batch may hold a key twice and set-oriented MERGE needs unique
    sources), or a sketch/near-dup state's ``fold``.

    Returns the StreamingQuery (caller awaits termination).
    """
    return (
        stream.writeStream.foreachBatch(lambda batch, _epoch: fold(batch))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events: DataFrame,
    *,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window event counts with a late-data watermark.

    Works identically on a batch DataFrame and a streaming one (the
    watermark is a no-op in batch) — the engine's windowed-rollup
    building block for streaming the ``events`` table. In streaming
    mode, state for windows older than ``watermark_delay`` is evicted
    and later-arriving rows are dropped — bounded state at any scale.
    """
    src = ensure_ltz(events, ts_col)
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark_delay)
    return src.groupBy(
        F.window(F.col(ts_col), window_duration).alias("w"),
        F.col(user_col),
    ).agg(F.count(F.lit(1)).alias("n_events")).select(
        F.col("w.start").alias("window_start"),
        user_col,
        "n_events",
    )


def session_window_rollup(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark_delay: str = "2 hours",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-user session aggregates via ``F.session_window`` — the
    native dynamic-gap analogue of the batch ``t_user_sessions`` query
    (events.py): a session closes after ``gap`` of inactivity.

    Works identically on batch and streaming inputs. In streaming
    mode the watermark bounds session state: a session window is
    emitted (and its state dropped) once the watermark passes its
    close — Spark's session-window state store merges adjacent
    windows incrementally, so per-user state is O(open sessions),
    never O(events). At 100 TB-scale ingest this is the correct
    operator for sessionization: the groupBy keys are
    (user, session_window) — hash-partitioned by user, millions of
    small groups, no global ordering anywhere.
    """
    src = ensure_ltz(events, ts_col)
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark_delay)
    return (
        src.groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col(user_col)
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            user_col,
            "n_events",
            "total_value",
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "30 minutes",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Stream-stream equi+interval join: pair each left event with
    right events by the same key that happened within ``lookback``
    BEFORE it (``left_ts - lookback <= right_ts <= left_ts``).

    Both sides are watermarked so the state store can evict right rows
    older than watermark + lookback — without the time bound Spark
    (correctly) refuses the inner stream-stream join as unbounded
    state. Works identically on batch frames (watermarks no-op), so
    the batch dual is its own oracle.
    """
    lf, rf = ensure_ltz(left, left_ts), ensure_ltz(right, right_ts)
    if lf.isStreaming:
        lf = lf.withWatermark(left_ts, watermark_delay)
    if rf.isStreaming:
        rf = rf.withWatermark(right_ts, watermark_delay)
    cond = (
        (lf[on] == rf[on])
        & (rf[right_ts] <= lf[left_ts])
        & (rf[right_ts] >= lf[left_ts] - F.expr(f"INTERVAL {lookback}"))
    )
    joined = lf.join(rf, cond, "inner")
    # unambiguous output: one key column (left's), left payload as-is,
    # right payload with any colliding name prefixed "right_" — a raw
    # join would carry `on` twice and break name-based selection
    out = [lf[c].alias(c) for c in left.columns]
    for c in right.columns:
        if c == on:
            continue
        out.append(rf[c].alias(c if c not in left.columns else f"right_{c}"))
    return joined.select(*out)


def dedup_stream(
    events: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Exact streaming deduplication with bounded state.

    Streaming: ``dropDuplicatesWithinWatermark`` — the first arrival
    per key is emitted, re-arrivals inside the watermark window are
    dropped, and per-key state is evicted once the watermark passes it
    (without the watermark bound, streaming dedup state grows forever —
    the operator every streaming ingest-dedup pipeline needs). Batch:
    plain ``dropDuplicates`` over the same keys, which is the oracle
    when every duplicate pair lands within the watermark window.
    """
    src = ensure_ltz(events, ts_col)
    if src.isStreaming:
        return src.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
            key_cols
        )
    return src.dropDuplicates(key_cols)


def interval_intersect_stream(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_sec: int = 600,
    max_len_sec: int = 3600,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval×interval overlap join — the streaming
    dual of :func:`operators.rangejoin.interval_intersect_join`, with
    the SAME grid-cell + emit-once construction so a pair is produced
    exactly once without any dedup state.

    Semantics: every (left, right) pair sharing ``on`` whose half-open
    time intervals ``[start, end)`` overlap, with ``overlap_sec``.
    Both sides must carry intervals no longer than ``max_len_sec``
    (longer rows are filtered out — an explicit contract, because the
    bound is what makes streaming state finite).

    Construction:

    1. watermark each side on its START timestamp;
    2. explode each interval to the ``bucket_sec`` grid cells it spans
       (≤ max_len/bucket + 1 per row — bounded fan-out);
    3. inner-join on ``(on, cell)`` PLUS a start-vs-start range bound
       (``|l.start − r.start| ≤ max_len``, implied by overlap under the
       length cap) — the watermark range condition Spark uses to evict
       buffered rows from both state stores;
    4. refine with the exact overlap predicate and keep the pair only
       in the cell containing ``greatest(starts)`` — the emit-once rule,
       so no streaming dropDuplicates (which would be MORE state) is
       ever needed.

    Works identically on batch frames (watermarks no-op), so the batch
    run over the same data is the oracle for the streaming run.
    """
    if max_len_sec <= 0 or bucket_sec <= 0:
        raise ValueError("bucket_sec and max_len_sec must be positive")
    lf, rf = ensure_ltz(left, left_start), ensure_ltz(right, right_start)
    lf = ensure_ltz(lf, left_end)
    rf = ensure_ltz(rf, right_end)
    if lf.isStreaming:
        lf = lf.withWatermark(left_start, watermark_delay)
    if rf.isStreaming:
        rf = rf.withWatermark(right_start, watermark_delay)

    def cells(df: DataFrame, start: str, end: str) -> DataFrame:
        s, e = F.unix_timestamp(F.col(start)), F.unix_timestamp(F.col(end))
        return (
            df.where((F.col(start) < F.col(end)))
            .where(e - s <= max_len_sec)
            .withColumn(
                "__cell",
                F.explode(
                    F.sequence(
                        F.floor(s / bucket_sec).cast("long"),
                        F.floor(e / bucket_sec).cast("long"),
                    )
                ),
            )
        )

    lc, rc = cells(lf, left_start, left_end), cells(rf, right_start, right_end)
    max_iv = F.expr(f"INTERVAL {max_len_sec} SECONDS")
    ls, le = lc[left_start], lc[left_end]
    rs, re_ = rc[right_start], rc[right_end]
    cond = (
        (lc[on] == rc[on])
        & (lc["__cell"] == rc["__cell"])
        # state bound: start-vs-start range on the two watermarked cols
        & (rs >= ls - max_iv)
        & (rs <= ls + max_iv)
        # exact half-open overlap
        & (ls < re_)
        & (rs < le)
        # emit-once: only the cell containing greatest(starts) keeps it
        & (
            F.floor(F.unix_timestamp(F.greatest(ls, rs)) / bucket_sec).cast("long")
            == lc["__cell"]
        )
    )
    joined = lc.join(rc, cond, "inner")
    out = [lc[c].alias(c) for c in left.columns]
    for c in right.columns:
        if c == on:
            continue
        out.append(rc[c].alias(c if c not in left.columns else f"right_{c}"))
    out.append(
        (
            F.unix_timestamp(F.least(le, re_))
            - F.unix_timestamp(F.greatest(ls, rs))
        ).alias("overlap_sec")
    )
    return joined.select(*out)
