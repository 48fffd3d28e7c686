"""DSIR-style data selection: hashed-n-gram importance resampling.

Data Selection with Importance Resampling (Xie et al., NeurIPS 2023)
picks raw-corpus documents whose hashed n-gram distribution looks like
a small *target* corpus: estimate bag-of-hashed-grams bucket
probabilities for target and raw, score each raw document by its
log-likelihood ratio  Σ_g [ln p_target(b(g)) − ln p_raw(b(g))], and
resample ∝ exp(score) — here via the deterministic Gumbel-top-k trick
so the "sample" is reproducible on any cluster layout.

Scale shape (the whole point of the hashed feature space):

* The feature dimension is a FIXED ``num_buckets`` (default 256) —
  both distribution estimates collapse to ≤ num_buckets rows via
  map-side-combining hash aggregates, regardless of corpus size, and
  ride a broadcast join back onto the per-doc bucket counts.
* Per-doc work is one tokenize + one linear regex bigram pass
  (corpus_stats.text_grams) + one (id, bucket) hash aggregate:
  explode-shuffle of ~tokens rows per doc, the same budget class as
  TF-IDF.
* Totals ride as lazy scalar subqueries; the only driver-sized object
  is nothing at all — selection is a TakeOrderedAndProject top-k.

Determinism / oracle-ability: buckets come from the md5 element hash
(operators/sketches._element_hash, bit-identical in DuckDB); every
``ln`` is rounded to 6 dp before use (libm-proof, same policy as
bm25/bigram-LM); Gumbel noise derives from md5 of (salt, id) — no
``rand()`` anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ccgp_data_wrangling_spark.operators.corpus_stats import corpus_tokens, text_grams
from ccgp_data_wrangling_spark.operators.sketches import HASH_SPACE, _element_hash

__all__ = ["hashed_gram_buckets", "dsir_log_ratio_dim", "dsir_select"]

#: add-k smoothing mass per bucket for the distribution estimates.
SMOOTHING = 0.5


def hashed_gram_buckets(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 256,
) -> DataFrame:
    """(id, bucket, m): per-doc multiplicities of hashed uni+bigram
    features: the corpus tokens plus :func:`text_grams` bigrams; the
    aggregate combines map-side."""
    feats = F.concat(corpus_tokens(text_col), text_grams(text_col, 2))
    return (
        docs.select(F.col(id_col).alias("id"), F.explode(feats).alias("gram"))
        .select("id", F.pmod(_element_hash(F.col("gram")), F.lit(num_buckets)).alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).alias("m"))
    )


def _bucket_counts(bucketed: DataFrame) -> DataFrame:
    """(bucket, c): corpus-wide gram mass per bucket."""
    return bucketed.groupBy("bucket").agg(F.sum("m").alias("c"))


def dsir_log_ratio_dim(
    raw_buckets: DataFrame,
    target_buckets: DataFrame,
    *,
    num_buckets: int = 256,
) -> DataFrame:
    """(bucket, lr): smoothed log-likelihood ratio per feature bucket,
    ln(p_target) − ln(p_raw), each ln rounded to 6 dp.

    ≤ num_buckets rows — broadcastable by construction. Buckets absent
    from the target get only smoothing mass (negative evidence);
    buckets absent from raw cannot be probed by raw docs, so the full
    outer join keeps the dimension total.
    """
    raw_c = _bucket_counts(raw_buckets)
    tgt_c = _bucket_counts(target_buckets).withColumnRenamed("c", "ct")
    t_raw = raw_c.agg(F.sum("c")).scalar()
    t_tgt = tgt_c.agg(F.sum("ct")).scalar()
    denom_r = t_raw.cast("double") + F.lit(SMOOTHING * num_buckets)
    denom_t = t_tgt.cast("double") + F.lit(SMOOTHING * num_buckets)
    joined = raw_c.join(tgt_c, "bucket", "full_outer").select(
        "bucket",
        F.coalesce(F.col("c"), F.lit(0)).alias("cr"),
        F.coalesce(F.col("ct"), F.lit(0)).alias("ct"),
    )
    lr = F.round(F.ln((F.col("ct") + SMOOTHING) / denom_t), 6) - F.round(
        F.ln((F.col("cr") + SMOOTHING) / denom_r), 6
    )
    return joined.select("bucket", lr.alias("lr"))


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 256,
    k: int = 50,
    salt: str = "dsir-v1",
) -> DataFrame:
    """Top-k raw documents under Gumbel-perturbed DSIR scores.

    Returns (doc_id, llr, score): the document's log-likelihood ratio
    (rounded 4 dp) and its selection key ``llr + gumbel`` — the
    Gumbel-max trick makes the top-k an exact sample without
    replacement ∝ exp(llr), yet fully deterministic given ``salt``.
    """
    raw_b = hashed_gram_buckets(
        raw, id_col=id_col, text_col=text_col, num_buckets=num_buckets
    )
    tgt_b = hashed_gram_buckets(
        target, id_col=id_col, text_col=text_col, num_buckets=num_buckets
    )
    dim = dsir_log_ratio_dim(raw_b, tgt_b, num_buckets=num_buckets)
    llr = (
        raw_b.join(F.broadcast(dim), "bucket")
        .groupBy("id")
        .agg(F.round(F.sum(F.col("m") * F.col("lr")), 4).alias("llr"))
    )
    # deterministic Gumbel: u = h/2^60 ∈ (0,1], g = −ln(−ln u), 6 dp
    u = _element_hash(F.concat(F.lit(salt + ":"), F.col("id").cast("string"))) / F.lit(
        float(HASH_SPACE)
    )
    g = F.round(-F.ln(-F.ln(u)), 6)
    return (
        llr.select(
            F.col("id").alias("doc_id"),
            "llr",
            F.round(F.col("llr") + g, 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
