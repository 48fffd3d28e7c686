"""Span-level (substring) duplication detection across documents.

Document-level dedup (operators/dedup.py) misses the dominant failure
mode of web corpora: *partially* duplicated text — boilerplate
headers, license blocks, templated paragraphs — embedded in otherwise
distinct pages. Lee et al., "Deduplicating Training Data Makes
Language Models Better" (ACL 2022) removes duplicated *spans*; this
module is the Spark-shaped equivalent: fixed-width token windows,
inverted on the window key, scored per document.

Scale shape: one corpus scan → sliding windows (corpus_stats.text_grams,
two codegen'd regex expressions) → explode → one hash exchange on the
span key, which serves both the (doc, span) dedup and the per-span
document-frequency window → one groupBy on the doc → left join back.
Two exchanges on the main path, no persist (the windows are read
once), no all-pairs comparison anywhere. ``max_window_df`` caps
pathological keys (the empty-ish boilerplate that would otherwise
concentrate a partition) exactly like dedup.ngram_jaccard_pairs'
``max_df`` guard.

``hash_spans=True`` shuffles 8-byte ``xxhash64`` keys instead of the
~50-char window strings (≈6× fewer shuffle bytes at 100 TB; the
accepted sketch tradeoff is that a 64-bit collision can merge two
unrelated spans). The registered oracle query runs with
``hash_spans=False`` so Spark and DuckDB group on the identical
string key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ccgp_data_wrangling_spark.operators.corpus_stats import text_grams

__all__ = ["span_duplication_stats"]


def span_duplication_stats(
    docs: DataFrame,
    *,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_spans: bool = False,
    max_window_df: int | None = None,
) -> DataFrame:
    """Per-document duplicated-span statistics.

    Returns ``(id, n_windows, n_dup_windows, dup_ratio)`` where a
    window is "duplicated" iff the identical ``window``-token span
    occurs in at least one *other* document. ``n_windows`` counts
    distinct spans within the doc (internal repeats collapse — the
    Gopher repetition filter, corpus_stats.repetition_stats, owns
    within-doc repetition). Docs shorter than ``window`` tokens keep a
    row with zero counts so downstream keep/drop joins see every doc.
    Rows sharing an id count as one document; a null id is its own
    document for the span frequencies, and its output row reads zero.

    ``dup_ratio`` is rounded to 4 dp on both engines so the value hash
    is stable across double formatting.
    """
    span = F.explode(text_grams(text_col, window)).alias("span")
    spans = docs.select(F.col(id_col).alias("id"), span)
    if hash_spans:
        spans = spans.select("id", F.xxhash64("span").alias("span"))
    # One exchange keyed on the span: the (id, span) dedup and the
    # span-partitioned window below both reuse its hash partitioning.
    # Window partitions are per-SPAN — bounded by the span's df, so no
    # skewed partition at scale (and ``max_window_df`` bounds what
    # "dup" can even mean); then one groupBy(doc) rolls both counters up.
    spans = spans.repartition("span").dropDuplicates(["id", "span"])
    span_df = F.count(F.lit(1)).over(Window.partitionBy("span"))
    is_dup = F.col("span_df") >= 2
    if max_window_df is not None:
        is_dup = is_dup & (F.col("span_df") <= max_window_df)
    per_doc = (
        spans.withColumn("span_df", span_df)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(is_dup, 1).otherwise(0)).alias("n_dup_windows"),
        )
    )

    base = docs.select(F.col(id_col).alias("id"))
    out = base.join(per_doc, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
        F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
    )
    return out.withColumn(
        "dup_ratio",
        F.when(
            F.col("n_windows") > 0,
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 4),
        ).otherwise(F.lit(0.0)),
    )
