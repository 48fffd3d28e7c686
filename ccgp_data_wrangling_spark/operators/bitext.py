"""Bitext mining: margin-based parallel-pair extraction between two
embedding sets (Artetxe & Schwenk 2019's margin criterion, re-expressed
as DataFrame aggregates).

Given source-side and target-side sentence embeddings, a pair (a, b)
is mined when each is the other's best candidate by MARGIN — cosine
normalized by the mean cosine of each side's k nearest neighbors —
and the margin clears a threshold. The normalization is what beats
raw cosine: hub sentences that are "close to everything" get their
neighborhood mean subtracted out (here: divided out, the 'ratio'
margin variant).

Determinism policy: cosines are rounded to 4 dp then scaled to
integers, so the k-NN mean is an EXACT integer sum (no
partition-order float drift); the margin is one double division,
rounded to 6 dp; all argmaxes tiebreak on id. The same arithmetic
replays in the DuckDB oracle.

Scale shape: the candidate set is a parameter. The default
brute-force cross join is the exact baseline (same role as
knn.brute_force_topk — allowlisted, measures what the scale path
must recover); production callers pass LSH/IVF candidates
(knn.srp_buckets buckets joined a×b, or ivf cluster-mates), and
everything downstream — top-k windows per id (millions of tiny
partitions, the scalable direction), two argmax aggregates, one
equi-join for mutuality — is shuffle-bounded by the candidate count,
not |A|×|B|.

Reference parity: no counterpart (the reference has no embedding
layer); this is part of the beyond-reference LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ccgp_data_wrangling_spark.operators.knn import cosine_sim

__all__ = ["margin_mine"]


def margin_mine(
    a_df: DataFrame,
    b_df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 4,
    tau: float = 1.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Mutual-best margin pairs ``(a_id, b_id, margin ≥ tau)``.

    ``candidates`` is an optional ``(a_id, b_id)`` frame restricting
    the scored pairs (LSH buckets, IVF cluster-mates); default is the
    exact all-pairs baseline. ``k`` is the neighborhood size for the
    margin denominator — computed within the candidate set, which is
    the standard approximation when candidates come from ANN.
    """
    a = a_df.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).cast("array<double>").alias("va"),
    )
    b = b_df.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).cast("array<double>").alias("vb"),
    )
    if candidates is None:
        pairs = a.crossJoin(b)
    else:
        pairs = candidates.join(a, "a_id").join(b, "b_id")
    # 4-dp cosine, scaled to an exact integer: k-NN means become
    # integer sums — no partition-order float drift in the aggregate
    cos_s = F.round(cosine_sim(F.col("va"), F.col("vb")) * 10000, 0).cast(
        "long"
    )
    # a null cosine (a null, ragged or all-zero vector) is no pair: it
    # would otherwise win every min_by argmax below and hide real pairs
    scored = pairs.select("a_id", "b_id", cos_s.alias("cos_s")).where(
        F.col("cos_s").isNotNull()
    )

    wa = Window.partitionBy("a_id").orderBy(
        F.col("cos_s").desc(), F.col("b_id")
    )
    wb = Window.partitionBy("b_id").orderBy(
        F.col("cos_s").desc(), F.col("a_id")
    )
    ranked = scored.withColumn("rk_a", F.row_number().over(wa)).withColumn(
        "rk_b", F.row_number().over(wb)
    )
    avg_a = (
        ranked.where(F.col("rk_a") <= k)
        .groupBy("a_id")
        .agg(F.sum("cos_s").alias("sum_a"), F.count(F.lit(1)).alias("n_a"))
    )
    avg_b = (
        ranked.where(F.col("rk_b") <= k)
        .groupBy("b_id")
        .agg(F.sum("cos_s").alias("sum_b"), F.count(F.lit(1)).alias("n_b"))
    )
    margined = (
        scored.join(avg_a, "a_id")
        .join(avg_b, "b_id")
        .withColumn(
            "margin",
            F.round(
                F.try_divide(
                    F.col("cos_s"),
                    0.5
                    * (
                        F.col("sum_a") / F.col("n_a")
                        + F.col("sum_b") / F.col("n_b")
                    ),
                ),
                6,
            ),
        )
        # neighbourhood means that cancel (e.g. orthogonal vectors)
        # leave no margin, and so no pair
        .where(F.col("margin").isNotNull())
        .select("a_id", "b_id", "margin")
    )
    # mutual best by margin: two argmax aggregates (map-side
    # combining), tiebroken on the partner id — no global window
    # min_by over (-margin, id): highest margin, ties to the smallest
    # partner id — struct ordering handles string ids, where a unary
    # -id would fail under ANSI negation.
    best_a = margined.groupBy("a_id").agg(
        F.min_by(
            F.col("b_id"), F.struct((-F.col("margin")), F.col("b_id"))
        ).alias("best_b")
    )
    best_b = margined.groupBy("b_id").agg(
        F.min_by(
            F.col("a_id"), F.struct((-F.col("margin")), F.col("a_id"))
        ).alias("best_a")
    )
    return (
        margined.join(best_a, "a_id")
        .join(best_b, "b_id")
        .where(
            (F.col("b_id") == F.col("best_b"))
            & (F.col("a_id") == F.col("best_a"))
            & (F.col("margin") >= tau)
        )
        .select("a_id", "b_id", "margin")
    )
