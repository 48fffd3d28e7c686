"""SemDeDup: semantic (embedding-space) deduplication, cluster-then-prune.

SemDeDup (Abbas et al., 2023, arXiv:2303.09540) removes *semantic*
duplicates — documents whose embeddings are nearly identical even when
their text is not — by (1) clustering the embedding space and (2)
pruning, within each cluster only, every pair above a cosine
threshold, keeping one representative per duplicate group.

Why cluster first: the all-pairs cosine matrix is O(n²); restricting
pairs to same-cluster members caps the quadratic blow-up at
O(Σ|cluster|²), and the cluster count is a free parallelism knob —
each cluster's pair search is independent. This is the same
candidate-restriction discipline as the LSH families in
operators/dedup.py, with centroids instead of hash bands.

Determinism / oracle-ability: centroids are seed rows (lowest ids),
assignment is argmax cosine with smallest-id tie-break, the in-cluster
pair predicate uses cosine rounded to 6 dp, and the keep policy is
"smallest id in the duplicate pair graph survives" — evaluated as
"drop any row that duplicates a SMALLER-id row", which needs no
iterative connected components: within a cluster, every dropped row
names a smaller keeper, and chains terminate at the cluster's minimum
id. Cluster assignment and SRP buckets are knn.py's two Arrow matmul
kernels (:func:`knn.nearest_centroids`, :func:`knn.srp_buckets`); the
pair search and keep rule are DataFrame algebra. A null or
wrong-length vector gets a null cluster: it is never paired and kept.

Scale notes: the centroid set is a bounded collect (default 8 rows —
the same bound class as knn.py's IVF seed sample; at 100 TB you'd
raise it to √n and persist it as a table instead). The self-join
shuffles on cluster id; a ``max_cluster`` guard caps degenerate
clusters the same way dedup.py caps hot LSH buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ccgp_data_wrangling_spark.operators.knn import (
    _sample_centroids,
    _seeded_planes,
    cosine_sim,
    nearest_centroids,
    srp_buckets,
)

__all__ = ["assign_seed_clusters", "semantic_dedup", "semantic_dedup_lsh"]


def assign_seed_clusters(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_clusters: int = 8,
) -> DataFrame:
    """(id, cluster, v): nearest seed centroid by cosine.

    Centroids = the ``num_clusters`` lowest-id rows with a vector of
    the common width (:func:`knn._sample_centroids`) — deterministic on
    any layout. Assignment is a shuffle-free argmax over similarities
    ROUNDED to 6 dp (:func:`knn.nearest_centroids`); ties go to the
    smallest cluster id. A null or wrong-length vector gets a null
    cluster.
    """
    v = F.col(vec_col).cast("array<double>")
    return nearest_centroids(
        emb.select(F.col(id_col).alias("id"), v.alias("v")),
        _sample_centroids(emb, id_col, vec_col, num_clusters, seed=None),
        vec_col="v",
        round_dp=6,
    ).select("id", F.col("__centroids")[0].alias("cluster"), "v")


def semantic_dedup(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_clusters: int = 8,
    threshold: float = 0.999,
    max_cluster: int | None = None,
) -> DataFrame:
    """(id, cluster, keep): SemDeDup keep/drop decisions.

    A row is dropped iff some same-cluster row with a smaller id has
    cosine ≥ threshold with it. The pair join is ordered (small id ⨝
    large id) so each unordered pair is evaluated once, and the
    shuffle key is the cluster id.

    ``max_cluster`` mirrors the LSH variant's ``max_bucket``: a cluster
    with more members than the cap is EXCLUDED from pair generation
    (its rows all stay keep=True — conservative, never drops on partial
    evidence), bounding the worst per-cluster self-join at
    O(max_cluster²) even when the centroid seeding degenerates and one
    cluster swallows the corpus.
    """
    assigned = assign_seed_clusters(
        emb,
        id_col=id_col,
        vec_col=vec_col,
        num_clusters=num_clusters,
    )
    pairable = assigned
    if max_cluster is not None:
        sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("__n"))
        pairable = assigned.join(
            sizes.where(F.col("__n") <= max_cluster).drop("__n"), "cluster"
        )
    left = pairable.select(
        F.col("cluster"), F.col("id").alias("a"), F.col("v").alias("va")
    )
    right = pairable.select(
        F.col("cluster"), F.col("id").alias("b"), F.col("v").alias("vb")
    )
    dropped = (
        left.join(right, "cluster")
        .where(F.col("a") < F.col("b"))
        .where(F.round(cosine_sim(F.col("va"), F.col("vb")), 6) >= threshold)
        .select(F.col("b").alias("id"))
        .distinct()
    )
    return assigned.join(dropped.withColumn("dup", F.lit(True)), "id", "left").select(
        "id",
        "cluster",
        F.coalesce(~F.col("dup"), F.lit(True)).alias("keep"),
    )


def semantic_dedup_lsh(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    num_clusters: int = 8,
    threshold: float = 0.999,
    n_tables: int = 2,
    n_bits: int = 8,
    seed: int = 99,
    max_bucket: int | None = None,
) -> DataFrame:
    """SemDeDup with the per-cluster LSH refinement the base operator's
    scale notes promise: instead of the full O(|cluster|²) in-cluster
    self-join, candidate pairs must ALSO share an SRP sign bucket in at
    least one of ``n_tables`` seeded hash tables. For a duplicate pair
    at cosine ≥ t the per-table miss probability is
    ≈ 1 − (1 − arccos(t)/π)^n_bits — at t = 0.999 and 8 bits that is
    ≈ 0.25%, and with 2 tables ≈ 6e-6 — while unrelated same-cluster
    vectors scatter across 2^n_bits buckets, collapsing the pair join
    to near-linear. Planes are seeded (deterministic on any layout).

    Shape: one Arrow kernel computes every table's bucket
    (:func:`knn.srp_buckets`); the bucket join carries IDS ONLY (vectors
    rejoin for the exact verify — the dedup.py discipline), candidate
    pairs dedup across tables before the exact cosine filter, and the
    keep rule is identical to :func:`semantic_dedup` (drop any row
    duplicating a smaller id). ``max_bucket`` skips degenerate buckets
    the way dedup.py caps hot LSH buckets.

    ``dim`` must match the embedding width (explicit, not sniffed —
    the r2 ADVICE contract for embedding ops).
    """
    assigned = assign_seed_clusters(
        emb,
        id_col=id_col,
        vec_col=vec_col,
        num_clusters=num_clusters,
    )
    buckets = srp_buckets(
        assigned, _seeded_planes(n_tables, n_bits, dim, seed), vec_col="v"
    ).select("cluster", "id", F.posexplode("__buckets").alias("t", "bkt"))
    if max_bucket is not None:
        sizes = buckets.groupBy("cluster", "t", "bkt").agg(
            F.count(F.lit(1)).alias("__n")
        )
        buckets = buckets.join(
            sizes.where(F.col("__n") <= max_bucket).drop("__n"),
            ["cluster", "t", "bkt"],
        )
    lo = buckets.select("cluster", "t", "bkt", F.col("id").alias("a"))
    hi = buckets.select("cluster", "t", "bkt", F.col("id").alias("b"))
    cand = (
        lo.join(hi, ["cluster", "t", "bkt"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = assigned.select(F.col("id").alias("a"), F.col("v").alias("va"))
    vb = assigned.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    dropped = (
        cand.join(va, "a")
        .join(vb, "b")
        .where(F.round(cosine_sim(F.col("va"), F.col("vb")), 6) >= threshold)
        .select(F.col("b").alias("id"))
        .distinct()
    )
    return assigned.join(dropped.withColumn("dup", F.lit(True)), "id", "left").select(
        "id",
        "cluster",
        F.coalesce(~F.col("dup"), F.lit(True)).alias("keep"),
    )
