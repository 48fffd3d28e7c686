"""SemDeDup cluster-then-prune semantics on a controlled corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.operators.semdedup import (
    assign_seed_clusters,
    semantic_dedup,
)


def _axes_corpus(spark):
    """Two tight groups near orthogonal axes + exact/near copies.

    ids 0-1: the seeds (axis-x-ish, axis-y-ish) → the 2 centroids.
    ids 2-4: near-axis-x vectors, id 3 = copy of id 2.
    ids 5-7: near-axis-y vectors, id 7 = near-copy of id 5.
    """
    rows = [
        (0, [1.0, 0.05, 0.0]),
        (1, [0.05, 1.0, 0.0]),
        (2, [0.9, 0.1, 0.01]),
        (3, [0.9, 0.1, 0.01]),        # exact duplicate of 2
        (4, [0.95, 0.02, 0.2]),       # same cluster, not a dup
        (5, [0.1, 0.9, 0.02]),
        (6, [0.02, 0.95, 0.15]),      # same cluster, not a dup
        (7, [0.1001, 0.9001, 0.02]),  # near-copy of 5
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_duplicates_dropped_originals_kept(spark):
    out = {
        r.id: (r.cluster, r.keep)
        for r in semantic_dedup(
            _axes_corpus(spark), num_clusters=2, threshold=0.999
        ).collect()
    }
    assert len(out) == 8
    assert out[3][1] is False          # exact copy of 2 dropped
    assert out[7][1] is False          # near-copy of 5 dropped
    kept = [i for i, (_, k) in out.items() if k]
    assert sorted(kept) == [0, 1, 2, 4, 5, 6]


def test_cluster_assignment_follows_axes(spark):
    assigned = {
        r.id: r.cluster for r in assign_seed_clusters(
            _axes_corpus(spark), num_clusters=2
        ).collect()
    }
    # centroid 0 = axis-x seed, centroid 1 = axis-y seed
    assert {assigned[i] for i in (0, 2, 3, 4)} == {0}
    assert {assigned[i] for i in (1, 5, 6, 7)} == {1}


def test_cross_cluster_near_pairs_not_compared(spark):
    """Pairs straddling clusters are outside SemDeDup's candidate set
    by design — both survive even at a permissive threshold."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.72, 0.69]),   # assigns to cluster 0 (barely)
        (3, [0.69, 0.72]),   # assigns to cluster 1 (barely); cos(2,3)≈0.995
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.id: r.keep for r in semantic_dedup(df, num_clusters=2, threshold=0.99).collect()}
    assert out[2] and out[3]


def test_deterministic(spark):
    corpus = _axes_corpus(spark)
    a = sorted(tuple(r) for r in semantic_dedup(corpus, num_clusters=2).collect())
    b = sorted(tuple(r) for r in semantic_dedup(corpus, num_clusters=2).collect())
    assert a == b


def test_lsh_refinement_matches_exact(spark):
    """semantic_dedup_lsh must reproduce semantic_dedup exactly on the
    controlled corpus: exact/near copies share SRP buckets (tiny
    angles), non-dups that land in the same bucket are removed by the
    exact verify."""
    from ccgp_data_wrangling_spark.operators.semdedup import (
        semantic_dedup_lsh,
    )

    corpus = _axes_corpus(spark)
    exact = {
        (r.id, r.cluster, r.keep)
        for r in semantic_dedup(corpus, num_clusters=2, threshold=0.999).collect()
    }
    lsh = {
        (r.id, r.cluster, r.keep)
        for r in semantic_dedup_lsh(
            corpus, dim=3, num_clusters=2, threshold=0.999,
            n_tables=4, n_bits=2,
        ).collect()
    }
    assert lsh == exact


def test_lsh_max_bucket_guard_skips_hot_buckets(spark):
    """With max_bucket=1 every bucket is 'hot', so no candidate pairs
    form and everything is kept — the guard degrades recall, never
    correctness of the keep-at-least-one invariant."""
    from ccgp_data_wrangling_spark.operators.semdedup import (
        semantic_dedup_lsh,
    )

    out = semantic_dedup_lsh(
        _axes_corpus(spark), dim=3, num_clusters=2, threshold=0.999,
        n_tables=2, n_bits=2, max_bucket=1,
    )
    assert all(r.keep for r in out.collect())


def test_max_cluster_guard_skips_degenerate_cluster(spark):
    """One degenerate cluster swallowing most of the corpus is excluded
    from pair generation under max_cluster, keeping all its rows
    (conservative), while small clusters still dedup normally."""
    # cluster 0 (x-axis): 6 members incl. an exact dup pair → degenerate
    # cluster 1 (y-axis): 2 members incl. an exact dup pair → small
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.9, 0.1, 0.0]),     # dup of 2 (cluster 0)
        (4, [0.95, 0.05, 0.1]),
        (5, [0.92, 0.08, 0.05]),
        (6, [0.05, 0.9, 0.0]),
        (7, [0.05, 0.9, 0.0]),    # dup of 6 (cluster 1)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.id: r.keep
        for r in semantic_dedup(
            corpus, num_clusters=2, threshold=0.999, max_cluster=4
        ).collect()
    }
    assert len(out) == 8
    # cluster 0 has 6 > 4 members: its dup (id 3) is NOT dropped
    assert out[3] is True
    # cluster 1 has 2 <= 4 members: dedup still applies there
    assert out[7] is False and out[6] is True
    # uncapped run drops both dups — the guard is the only difference
    uncapped = {
        r.id: r.keep
        for r in semantic_dedup(corpus, num_clusters=2, threshold=0.999).collect()
    }
    assert uncapped[3] is False and uncapped[7] is False


def _ref_semdedup(rows, centroids, threshold, pair_ok=lambda a, b: True):
    """Pure-Python SemDeDup: cluster = argmax of cosine rounded to 6 dp
    (lowest index on ties, null for a null or wrong-length vector);
    drop b if a same-cluster a < b that ``pair_ok`` admits has rounded
    cosine >= threshold."""
    from ccgp_data_wrangling_spark.operators.knn import _py_cos

    dim = len(centroids[0])
    cluster = {}
    for i, v in rows:
        if v is None or len(v) != dim:
            cluster[i] = None
            continue
        sims = [round(_py_cos(v, c), 6) for c in centroids]
        cluster[i] = sims.index(max(sims))
    vec = dict(rows)
    dropped = {
        b
        for a, _ in rows
        for b, _ in rows
        if a < b
        and cluster[a] is not None
        and cluster[a] == cluster[b]
        and pair_ok(a, b)
        and round(_py_cos(vec[a], vec[b]), 6) >= threshold
    }
    return sorted((i, cluster[i], i not in dropped) for i, _ in rows)


def test_kernel_decisions_match_python_reference(spark):
    """semantic_dedup, semantic_dedup_lsh and ivf_topk_multi give the
    pure-Python reference's clusters, keep decisions and ranked rows
    (rounded-argmax and lowest-index tie-breaks, _py_bucket buckets):
    planted near-copies are dropped, and a null or wrong-length vector
    gets a null cluster, is kept, and is never retrieved."""
    import random

    from ccgp_data_wrangling_spark.operators.knn import (
        _py_bucket,
        _py_cos,
        _sample_centroids,
        _seeded_planes,
        ivf_topk_multi,
    )
    from ccgp_data_wrangling_spark.operators.semdedup import (
        semantic_dedup,
        semantic_dedup_lsh,
    )

    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(80)]
    # planted near-copies of ids 0-4
    for i in range(5):
        v = list(rows[i][1])
        v[0] += 0.001
        rows.append((500 + i, v))
    rows += [(900, None), (901, [1.0] * 15), (902, [])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = [v for _, v in rows[:4]]

    sd = sorted(
        (r.id, r.cluster, r.keep)
        for r in semantic_dedup(emb, num_clusters=4, threshold=0.999).collect()
    )
    assert sd == _ref_semdedup(rows, seeds, 0.999)
    assert {i for i, _, keep in sd if not keep} == {500, 501, 502, 503, 504}
    assert [r for r in sd if r[0] >= 900] == [
        (900, None, True), (901, None, True), (902, None, True)
    ]

    tables = _seeded_planes(2, 6, 16, 99)
    bucket = {
        i: [_py_bucket(v, t) if v is not None and len(v) == 16 else 0 for t in tables]
        for i, v in rows
    }
    lsh = sorted(
        (r.id, r.cluster, r.keep)
        for r in semantic_dedup_lsh(
            emb, dim=16, num_clusters=4, threshold=0.999, n_tables=2, n_bits=6
        ).collect()
    )
    assert lsh == _ref_semdedup(
        rows,
        seeds,
        0.999,
        lambda a, b: any(x == y for x, y in zip(bucket[a], bucket[b])),
    )

    q = emb.where((F.col("vec_id") < 3) | (F.col("vec_id") >= 900)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    ivf = sorted(
        (r.query_id, r.vec_id, r.cos_sim, r.rank)
        for r in ivf_topk_multi(emb, q, 5, n_centroids=6, n_probe=3).collect()
    )
    cents = _sample_centroids(emb, "vec_id", "embedding", 6, 42)

    def nearest(v):
        return sorted(range(len(cents)), key=lambda c: (-_py_cos(v, cents[c]), c))

    valid = [(i, v) for i, v in rows if v is not None and len(v) == 16]
    cell = {i: nearest(v)[0] for i, v in valid}
    want = []
    for qid, qv in valid[:3]:
        probes = nearest(qv)[:3]
        scored = sorted(
            (-round(_py_cos(v, qv), 4), i) for i, v in valid if cell[i] in probes
        )
        want += [(qid, i, -c, r) for r, (c, i) in enumerate(scored[:5], 1)]
    assert ivf == sorted(want)
    assert {(qid, 500 + qid) for qid in range(3)} <= {(r[0], r[1]) for r in ivf}
