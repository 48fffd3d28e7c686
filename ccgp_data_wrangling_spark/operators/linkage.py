"""Fuzzy substring linkage join (SURVEY.md §2.4 J1/J2) — the engine's
flagship custom operator.

Reference semantics (update_reads.py:64-163 ``search``/``find_files``,
:166-181 ``solve_conflict``, :209-284 link loop):

* each sample carries ``minicore_seq_id`` — possibly a comma-separated
  list of ids; ids may contain ``_``/``-`` variants
* a file matches an id ``q`` when ``q_`` / ``q-`` / ``q.`` occurs as a
  substring of the file name; on miss, a variant cascade retries:
  ids containing ``_``: ``_``→``-``, then all separators stripped;
  ids containing ``-``: ``-``→``_`` (this tier matches bare ``q`` —
  update_reads.py:123)
* first (id, tier) with any match wins; later ids/tiers are not tried
* only ``.gz`` files are kept — applied AFTER tier selection
  (update_reads.py:147), so a tier that matched only non-gz files
  still terminates the cascade with zero files
* samples are searched only when ``minicore_sequenced == "YES"``
  (update_reads.py:215-222)
* a file matched by several samples goes to the one with max
  fuzz-ratio(sample_name, file_name) (update_reads.py:166-181); we
  use the levenshtein ratio with deterministic min-name tie-break

The reference executes this as an O(samples × files) nested loop in
driver memory (update_reads.py:200,209-235). This implementation
inverts it into a shuffle equi-join (SURVEY.md §7.4):

1. FILE side: from each file name, generate **candidate spans** — all
   runs of ≤ ``max_span`` separator-delimited tokens that are
   followed by a separator (the ``q+sep`` contract), with original
   separators preserved, PLUS each span's separator-stripped normal
   form (for the stripped-variant tier). Pure higher-order Column
   expressions, embarrassingly parallel, no Python.
2. SAMPLE side: explode each sample's ids × variant tiers into
   (variant_string, id_idx, tier) rows.
3. Equi-join span == variant (hash shuffle on short strings — no
   cartesian, no driver materialization), then per-sample tier
   precedence via a min-rank window, the ``.gz`` filter, and the
   per-file conflict window.

Divergences from the literal reference code, chosen deliberately and
pinned by tests: the cascade continues to later comma-ids when an id
finds nothing (the reference's early ``return False`` at
update_reads.py:130 makes ids[1:] dead code — the *intended*
semantics per the comment at :77); bare-``q`` containment for the
dash tier is approximated as span-followed-by-separator; null/"nan"
ids are skipped; ``received``/file order are pinned deterministic
(min mdate / sorted array — update_reads.py:237 takes unsorted
list-head).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.functions.similarity import fuzz_ratio

_SEP_CLASS = r"[_\-.]"


def id_variants(id_col: Column) -> Column:
    """Variant cascade for one id: array<struct<variant,tier>>.

    tier 0 = id verbatim; ids with '_': tier 1 = '_'→'-', tier 2 = all
    separators stripped; else ids with '-': tier 1 = '-'→'_'
    (update_reads.py:92-130).
    """
    v0 = id_col
    v_dash = F.translate(id_col, "_", "-")
    v_strip = F.translate(id_col, "_-", "")
    v_us = F.translate(id_col, "-", "_")
    base = F.array(F.struct(v0.alias("variant"), F.lit(0).alias("tier")))
    with_us = F.concat(
        base,
        F.array(
            F.struct(v_dash.alias("variant"), F.lit(1).alias("tier")),
            F.struct(v_strip.alias("variant"), F.lit(2).alias("tier")),
        ),
    )
    with_dash = F.concat(
        base, F.array(F.struct(v_us.alias("variant"), F.lit(1).alias("tier")))
    )
    return (
        F.when(v0.contains("_"), with_us)
        .when(v0.contains("-"), with_dash)
        .otherwise(base)
    )


def linkage_pairs(
    samples: DataFrame,
    reads: DataFrame,
    *,
    id_col: str = "minicore_seq_id",
    sample_key: str = "sample_name",
    file_key: str = "file_name",
    max_span: int = 6,
) -> DataFrame:
    """Candidate (sample, file) matches with tier metadata, before
    conflict resolution. One row per matched pair at the sample's
    winning (id_idx, tier), ``.gz``-filtered.

    The exploded (id-variant, tier) side of the span join is broadcast:
    samples are the dimension here (a few rows per sample), so the span
    side, which is tokens×max_span larger than the file listing, is
    never shuffled on the span key: per-task work follows the input
    split, however many file names share one hot span.
    """
    eligible = samples.where(F.col("minicore_sequenced") == "YES").where(
        F.col(id_col).isNotNull() & (F.lower(F.col(id_col)) != "nan")
    )
    # sample side: comma-split ids (no trim — reference splits verbatim,
    # update_reads.py:78) × variant tiers
    ids = eligible.select(
        sample_key,
        F.posexplode(F.split(F.col(id_col), ",")).alias("id_idx", "one_id"),
    ).where(F.lower(F.col("one_id")) != "nan")
    variants = ids.select(
        sample_key,
        "id_idx",
        F.explode(id_variants(F.col("one_id"))).alias("v"),
    ).select(
        sample_key,
        "id_idx",
        F.col("v.variant").alias("variant"),
        F.col("v.tier").alias("tier"),
    )

    spans = _file_spans(reads, file_key, max_span)
    matched = F.broadcast(variants).join(spans, "variant")

    # per-sample winning (id_idx, tier): the cascade stops at the first
    # id/tier that matched anything — BEFORE the .gz filter
    rank = (F.col("id_idx") * 100 + F.col("tier")).alias("rank")
    w_sample = W.partitionBy(sample_key)
    with_rank = matched.select(
        sample_key, file_key, "filesize", "mdate", "id_idx", "tier", rank
    ).withColumn("min_rank", F.min("rank").over(w_sample))
    at_tier = with_rank.where(F.col("rank") == F.col("min_rank")).drop(
        "rank", "min_rank"
    )

    # .gz filter AFTER tier selection (update_reads.py:147), dedup pairs
    # (several spans of one file can equal the same variant)
    return at_tier.where(F.col(file_key).endswith(".gz")).dropDuplicates(
        [sample_key, file_key]
    )


def _file_spans(reads: DataFrame, file_key: str, max_span: int) -> DataFrame:
    """The file side of ``linkage_pairs``: one (file, filesize, mdate,
    variant) row per separator-bounded span of at most ``max_span``
    tokens that a separator follows, separators inside kept."""
    # explode(sequence) + codegen'd substring — 6× faster than the
    # per-row nested-HOF form of tests/test_linkage.py:candidate_spans
    # (interpreted lambdas), same span set (checked by
    # test_file_spans_match_candidate_spans). Duplicate spans per file
    # (identical substrings from distinct (i,j)) are harmless: tier
    # selection is a min and pairs dedup at the end.
    toks = F.split(F.col(file_key), _SEP_CLASS)
    starts = F.aggregate(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.array(F.lit(1)),
        lambda acc, t: F.concat(
            acc, F.array(F.element_at(acc, -1) + F.length(t) + 1)
        ),
    )
    # decouple span-generation parallelism from the input layout: a
    # compact file listing (one parquet file locally; few dense files
    # at scale) otherwise pins the tokens×max_span explode and the
    # join probe to its handful of input partitions. The shuffle moved
    # here is the pre-explosion listing — the cheapest place to pay it.
    # repartition BEFORE the projection: the shuffle then carries only
    # the raw (file, size, mdate) listing, and the tokenization + the
    # interpreted offset fold + the explodes all run at full width
    par = reads.sparkSession.sparkContext.defaultParallelism
    base = (
        reads.repartition(par)
        .select(
            file_key,
            "filesize",
            "mdate",
            toks.alias("__toks"),
            starts.alias("__st"),
            F.size(toks).alias("__n"),
        )
        .where(F.col("__n") >= 2)
    )
    return (
        base.select(
            file_key,
            "filesize",
            "mdate",
            "__toks",
            "__st",
            "__n",
            F.explode(F.sequence(F.lit(0), F.col("__n") - 2)).alias("__i"),
        )
        .select(
            file_key,
            "filesize",
            "mdate",
            "__toks",
            "__st",
            "__i",
            F.explode(
                F.sequence(
                    F.col("__i"),
                    F.least(F.col("__i") + max_span - 1, F.col("__n") - 2),
                )
            ).alias("__j"),
        )
        .select(
            file_key,
            "filesize",
            "mdate",
            F.substring(
                F.col(file_key),
                F.element_at(F.col("__st"), F.col("__i") + 1),
                F.element_at(F.col("__st"), F.col("__j") + 1)
                + F.length(F.element_at(F.col("__toks"), F.col("__j") + 1))
                - F.element_at(F.col("__st"), F.col("__i") + 1),
            ).alias("variant"),
        )
    )


def resolve_conflicts(
    pairs: DataFrame,
    *,
    sample_key: str = "sample_name",
    file_key: str = "file_name",
) -> DataFrame:
    """J2: a file matched by several samples goes to the best fuzzy
    match (thefuzz-compatible indel ratio, deterministic tie-break on
    name). The similarity is computed only on conflicted files — the
    expensive LCS never runs on the (dominant) single-match case.
    """
    w_file = W.partitionBy(file_key).orderBy(
        F.desc("similarity"), F.asc(sample_key)
    )
    n_cands = F.count(F.lit(1)).over(W.partitionBy(file_key))
    return (
        pairs.withColumn(
            "similarity",
            F.when(
                n_cands > 1, fuzz_ratio(F.col(sample_key), F.col(file_key))
            ).otherwise(F.lit(100.0)),
        )
        .withColumn("__rn", F.row_number().over(w_file))
        .where(F.col("__rn") == 1)
        .drop("__rn", "similarity")
    )


def link_reads_to_samples(
    samples: DataFrame,
    reads: DataFrame,
    *,
    id_col: str = "minicore_seq_id",
    sample_key: str = "sample_name",
    file_key: str = "file_name",
    max_span: int = 6,
) -> DataFrame:
    """Full J1+J2+A5 pipeline: per-sample linked file set with
    ``filesize_sum`` and ``received`` (deterministic: min mdate,
    sorted file array — cf. update_reads.py:237-238).
    """
    pairs = linkage_pairs(
        samples,
        reads,
        id_col=id_col,
        sample_key=sample_key,
        file_key=file_key,
        max_span=max_span,
    )
    pairs = resolve_conflicts(pairs, sample_key=sample_key, file_key=file_key)
    return pairs.groupBy(sample_key).agg(
        F.array_sort(F.collect_list(file_key)).alias("files_found"),
        F.sum("filesize").alias("filesize_sum"),
        F.min("mdate").alias("received"),
        F.count(F.lit(1)).alias("n_files"),
    )
