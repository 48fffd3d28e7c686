"""Property tests (SURVEY.md §5.4): linkage recall/conflict invariants,
MERGE idempotency, and similarity-function correctness against pure
Python reference implementations.

Each property runs a bounded number of hypothesis examples — every
example executes Spark jobs, so examples are few and data is small;
the value is in the generated shapes, not the volume.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.functions.similarity import fuzz_ratio
from ccgp_data_wrangling_spark.operators.linkage import link_reads_to_samples
from ccgp_data_wrangling_spark.operators.merge import ParquetTable

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

TS = datetime(2023, 5, 1)

# prefix-free ids: a unique leading token per sample makes matches exact
_token = st.text(alphabet="ABCDEFGHJKMNPQRSTUVWXYZ", min_size=2, max_size=5)
_sep = st.sampled_from(["_", "-", "."])


@st.composite
def _id_lists(draw):
    n = draw(st.integers(min_value=1, max_value=5))
    ids = []
    for i in range(n):
        parts = draw(st.lists(_token, min_size=1, max_size=3))
        seps = [draw(_sep) for _ in range(len(parts) - 1)]
        uid = f"U{i}" + "".join(
            s + p for s, p in zip([""] + seps, [parts[0]] + parts[1:])
        )
        ids.append(uid)
    return ids


@given(_id_lists())
@SETTINGS
def test_linkage_recall_property(spark, ids):
    """Every file named ``<id><sep>...`` links back to its sample when
    ids are prefix-free (unique leading token)."""
    samples = spark.createDataFrame(
        [(f"S{i}", uid, "YES") for i, uid in enumerate(ids)],
        "sample_name string, minicore_seq_id string, minicore_sequenced string",
    )
    reads = spark.createDataFrame(
        [
            (f"{uid}_L001_R{r}_001.fastq.gz", 10 + i, TS)
            for i, uid in enumerate(ids)
            for r in (1, 2)
        ],
        "file_name string, filesize long, mdate timestamp",
    )
    linked = {
        r.sample_name: r for r in link_reads_to_samples(samples, reads).collect()
    }
    assert set(linked) == {f"S{i}" for i in range(len(ids))}
    for i in range(len(ids)):
        row = linked[f"S{i}"]
        assert row.n_files == 2
        assert all(f.startswith(ids[i]) for f in row.files_found)


@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 100)),
        min_size=0,
        max_size=8,
    )
)
@SETTINGS
def test_merge_upsert_idempotent_property(spark, tmp_path_factory, src_rows):
    """upsert(upsert(T, S), S) == upsert(T, S) for arbitrary sources
    (including duplicate-key-free random overlaps with the target)."""
    tmp = tmp_path_factory.mktemp("m")
    tbl = ParquetTable(spark, str(tmp / "t"), "k")
    tbl.init(
        spark.createDataFrame([(k, -1) for k in range(4)], "k long, v long")
    )
    src = spark.createDataFrame(
        list({k: (k, v) for k, v in src_rows}.values()) or [],
        "k long, v long",
    )
    tbl.upsert(src)
    once = sorted(map(tuple, tbl.read().collect()))
    tbl.upsert(src)
    twice = sorted(map(tuple, tbl.read().collect()))
    assert once == twice
    # upsert semantics: every source key present with source value
    got = dict(once)
    for k, v in dict(src_rows).items():
        assert got[k] == v


def _py_lcs(a: str, b: str) -> int:
    prev = [0] * (len(a) + 1)
    for cb in b:
        cur = [0]
        for i, ca in enumerate(a, 1):
            cur.append(prev[i - 1] + 1 if ca == cb else max(prev[i], cur[-1]))
        prev = cur
    return prev[len(a)]


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcXYZ_-.0123456789", max_size=12),
            st.text(alphabet="abcXYZ_-.0123456789", max_size=12),
        ),
        min_size=1,
        max_size=20,
    )
)
@SETTINGS
def test_fuzz_ratio_matches_reference(spark, pairs):
    """fuzz_ratio == 100·2·LCS/(|a|+|b|) per the pure-Python DP, with
    100.0 for the empty-empty pair — one Spark job for all examples."""
    df = spark.createDataFrame(pairs, "a string, b string")
    rows = df.select("a", "b", fuzz_ratio(F.col("a"), F.col("b")).alias("r")).collect()
    for row in rows:
        a, b = row.a, row.b
        expected = (
            100.0 if not a and not b else 200.0 * _py_lcs(a, b) / (len(a) + len(b))
        )
        assert row.r == pytest.approx(expected, abs=1e-9), (a, b)


def test_ann_natural_corpus_recall(spark):
    """Wide-and-shallow LSH (16 tables x 6 bits) and IVF keep useful
    recall of the exact top-10 even on the natural corpus, whose
    nearest neighbors sit at cosine ~ 0.37 (near-random — the hard
    case LSH theory promises least about). Deterministic: seeded
    planes / seeded centroid sample. Complements the planted-corpus
    driver oracles (queries/llm_scale.py), which prove exact recovery
    of true near-duplicates.
    """
    from ccgp_data_wrangling_spark.catalog import load_table
    from ccgp_data_wrangling_spark.operators.knn import (
        ann_topk,
        brute_force_topk,
        ivf_topk,
    )
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").head()
    qv = [float(x) for x in qrow[0]]
    corpus = emb.where(F.col("vec_id") != 0)

    exact = {r.vec_id for r in brute_force_topk(corpus, qv, 10).collect()}
    lsh = {r.vec_id for r in ann_topk(corpus, qv, 10, n_tables=16, n_bits=6).collect()}
    ivf = {r.vec_id for r in ivf_topk(corpus, qv, 10, n_centroids=32, n_probe=8).collect()}

    lsh_recall = len(exact & lsh) / 10
    ivf_recall = len(exact & ivf) / 10
    print(f"natural-corpus recall: lsh={lsh_recall} ivf={ivf_recall}")
    assert lsh_recall >= 0.5
    assert ivf_recall >= 0.5


def _ref_ann_topk(rows, qv, k, tables):
    """Pure-Python ann_topk: candidates share a _py_bucket with the
    query in some table (a null or wrong-length vector is in bucket 0
    of every table), exact cosine rounded to 4 dp (null for such a
    vector), ranked by cosine descending, nulls last, then id."""
    from ccgp_data_wrangling_spark.operators.knn import _py_bucket, _py_cos

    q_buckets = [_py_bucket(qv, t) for t in tables]
    scored = []
    for i, v in rows:
        ok = v is not None and len(v) == len(qv)
        buckets = [_py_bucket(v, t) if ok else 0 for t in tables]
        if any(b == q for b, q in zip(buckets, q_buckets)):
            scored.append((i, round(_py_cos(v, qv), 4) if ok else None))
    scored.sort(key=lambda r: (r[1] is None, -(r[1] or 0.0), r[0]))
    return [(i, c, rank) for rank, (i, c) in enumerate(scored[:k], 1)]


def _assert_rows_match(got, want):
    """Same ids and ranks; cosines equal up to one 4-dp rounding step
    (Spark rounds half-up, Python half-even)."""
    assert [(r[0], r[2]) for r in got] == [(r[0], r[2]) for r in want]
    for g, w in zip(got, want):
        assert (g[1] is None) == (w[1] is None)
        if w[1] is not None:
            assert g[1] == pytest.approx(w[1], abs=1.01e-4)


def test_ann_topk_matches_python_reference(spark):
    """ann_topk (registered defaults, 8 tables x 12 bits at width 64)
    returns the reference's ranked rows on the natural corpus plus a
    planted copy of the query, which must rank first."""
    from ccgp_data_wrangling_spark.catalog import load_table
    from ccgp_data_wrangling_spark.operators.knn import _seeded_planes, ann_topk
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").head()
    qv = [float(x) for x in qrow[0]]
    rows = [
        (r.vec_id, [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") != 0).collect()
    ] + [(10**6, list(qv))]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = [tuple(r) for r in ann_topk(corpus, qv, 5, n_tables=8, n_bits=12).collect()]
    want = _ref_ann_topk(rows, qv, 5, _seeded_planes(8, 12, len(qv), 42))
    assert len(want) > 1  # >= 1 random bucket collision besides the copy
    assert want[0][:2] == (10**6, 1.0)
    _assert_rows_match(got, want)


def test_ann_topk_null_and_ragged_vectors_match_reference(spark):
    """Null, empty, short and long vectors land in bucket 0 of every
    table, so they are kept only when the query hits a bucket 0, with
    a null cosine at the tail of the ranking; the kernel must keep and
    drop the same rows as the reference, not fail the task."""
    import random

    from ccgp_data_wrangling_spark.operators.knn import (
        _py_bucket,
        _seeded_planes,
        ann_topk,
    )

    dim, n_tables, n_bits = 6, 4, 2
    rng = random.Random(5)
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(dim)]) for i in range(30)]
    rows += [(90, None), (91, []), (92, [1.0] * (dim - 1)), (93, [1.0] * (dim + 2))]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    tables = _seeded_planes(n_tables, n_bits, dim, 42)
    queries = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(40)]
    hits_zero = [0 in [_py_bucket(q, t) for t in tables] for q in queries]
    # one query that keeps the bad rows, one that drops them
    picks = [queries[hits_zero.index(True)], queries[hits_zero.index(False)]]

    for qv, keeps_bad in zip(picks, (True, False)):
        got = [
            tuple(r)
            for r in ann_topk(
                emb, qv, 40, n_tables=n_tables, n_bits=n_bits
            ).collect()
        ]
        want = _ref_ann_topk(rows, qv, 40, tables)
        _assert_rows_match(got, want)
        assert any(r[0] >= 90 for r in got) == keeps_bad


def test_zero_vector_has_null_cosine_in_brute_force_topk(spark):
    """An all-zero vector's cosine is null (no ANSI DIVIDE_BY_ZERO that
    fails the job): it ranks after every real cosine, like a null
    vector, so a top-k with room for the real rows never holds it."""
    from ccgp_data_wrangling_spark.operators.knn import brute_force_topk

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [3.0, 4.0]), (4, None)],
        "vec_id long, embedding array<double>",
    )
    got = [tuple(r) for r in brute_force_topk(emb, [1.0, 0.0], 4).collect()]
    assert got[:2] == [(1, 1.0, 1), (3, 0.6, 2)]
    assert sorted((r[0], r[1]) for r in got[2:]) == [(2, None), (4, None)]
    top2 = [r.vec_id for r in brute_force_topk(emb, [1.0, 0.0], 2).collect()]
    assert top2 == [1, 3]


def test_embedding_neardup_pairs_sniffs_first_non_null_vector(spark):
    """Without ``dim`` the width comes from the first NON-NULL vector: a
    null first row used to fail on the driver with a TypeError. The
    pairs equal the ``dim=2`` run's; an all-null input has no pairs."""
    from ccgp_data_wrangling_spark.operators.dedup import embedding_neardup_pairs

    df = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0]), (3, [1.0, 0.0])],
        "id long, vec array<double>",
    )
    got = [tuple(r) for r in embedding_neardup_pairs(df, "id", "vec").collect()]
    assert got == [(2, 3, 1.0)]
    with_dim = embedding_neardup_pairs(df, "id", "vec", dim=2).collect()
    assert got == [tuple(r) for r in with_dim]

    nulls = df.where(F.col("id") == 1)
    out = embedding_neardup_pairs(nulls, "id", "vec")
    assert out.columns == ["id_a", "id_b", "cos_sim"]
    assert out.collect() == []


_small_vec = st.lists(st.integers(-3, 3), min_size=1, max_size=8)


@st.composite
def _kernel_case(draw):
    """Small-integer planes, centroids and vectors, so numpy's matmul
    and the sequential Python sums are exact and a dot of exactly 0 is
    common; duplicate centroids pin the lowest-index tie-break."""
    dim = draw(st.integers(1, 8))
    n_bits = draw(st.integers(1, 4))
    vec = st.lists(st.integers(-3, 3), min_size=dim, max_size=dim)
    tables = draw(
        st.lists(
            st.lists(vec, min_size=n_bits, max_size=n_bits),
            min_size=1,
            max_size=3,
        )
    )
    cents = draw(st.lists(vec.filter(any), min_size=1, max_size=5))
    cents += draw(st.lists(st.sampled_from(cents), max_size=3))
    k = draw(st.integers(1, len(cents)))
    vecs = draw(
        st.lists(
            st.one_of(vec, st.none(), st.just([]), _small_vec),
            min_size=1,
            max_size=12,
        )
    )
    return dim, tables, cents, k, vecs


@given(_kernel_case())
@settings(SETTINGS, max_examples=20)
def test_embedding_kernels_match_python_reference(spark, case):
    """srp_buckets equals _py_bucket per table (bucket 0 everywhere
    for a null or wrong-length vector), and nearest_centroids returns
    k centroids whose exact cosines are the k largest, nearest first,
    with an identical centroid of lower index always ahead (no
    centroid for a null or wrong-length vector)."""
    from fractions import Fraction

    from ccgp_data_wrangling_spark.operators.knn import (
        _py_bucket,
        nearest_centroids,
        srp_buckets,
    )

    dim, tables, cents, k, vecs = case
    df = spark.createDataFrame(
        [(i, v and [float(x) for x in v]) for i, v in enumerate(vecs)],
        "i int, v array<double>",
    ).repartition(2)
    out = {
        r["i"]: (r["__buckets"], r["__centroids"])
        for r in nearest_centroids(
            srp_buckets(df, tables, vec_col="v"), cents, k, vec_col="v"
        ).collect()
    }
    assert sorted(out) == list(range(len(vecs)))

    def cos_key(v, c):
        # exact, order-preserving stand-in for cos(v, c): sign(dot) *
        # dot^2 / |c|^2 (|v| is common to every centroid); 0 for v = 0
        dot = sum(x * y for x, y in zip(v, c))
        return Fraction(dot * abs(dot), sum(y * y for y in c))

    for i, v in enumerate(vecs):
        buckets, nearest = out[i]
        if v is None or len(v) != dim:
            assert buckets == [0] * len(tables) and nearest is None
            continue
        assert buckets == [_py_bucket(v, t) for t in tables]
        keys = sorted((cos_key(v, c) for c in cents), reverse=True)
        assert [cos_key(v, cents[j]) for j in nearest] == keys[:k]
        for pos, j in enumerate(nearest):
            twins = [i2 for i2 in range(j) if cents[i2] == cents[j]]
            assert all(t in nearest[:pos] for t in twins)


# ---------------------------------------------------------------------------
# Sketch merge laws over arbitrary inputs
# ---------------------------------------------------------------------------

_vals = st.lists(
    st.integers(min_value=0, max_value=500), min_size=1, max_size=120
)


@given(_vals, _vals)
@SETTINGS
def test_kmv_merge_law_property(spark, xs, ys):
    """merge(sketch(A), sketch(B)) ≡ sketch(A ∪ B) for arbitrary
    multisets, including heavy overlap and duplicates."""
    from ccgp_data_wrangling_spark.operators.sketches import (
        kmv_distinct,
        kmv_merge,
        kmv_partial,
        kmv_readout,
    )

    a = spark.createDataFrame([("g", v) for v in xs], "g string, v int")
    b = spark.createDataFrame([("g", v) for v in ys], "g string, v int")
    whole = spark.createDataFrame(
        [("g", v) for v in xs + ys], "g string, v int"
    )
    merged = kmv_merge(
        [kmv_partial(a, "g", "v", k=16), kmv_partial(b, "g", "v", k=16)],
        k=16,
    )
    got = kmv_readout(merged, "g", k=16).collect()[0].asDict()
    want = kmv_distinct(whole, "g", "v", k=16).collect()[0].asDict()
    assert got == want
    # below k the sketch must be EXACT
    true_distinct = len(set(xs + ys))
    if true_distinct < 16:
        assert got["distinct_est"] == true_distinct


@given(_vals)
@SETTINGS
def test_priority_sample_invariance_property(spark, xs):
    """The sample is a pure function of the data — identical under
    any partitioning and any input row order."""
    from ccgp_data_wrangling_spark.operators.sampling import priority_sample

    rows = [("g", i, v + 1) for i, v in enumerate(xs)]
    df1 = spark.createDataFrame(rows, "src string, id long, w long").repartition(1)
    df2 = spark.createDataFrame(
        list(reversed(rows)), "src string, id long, w long"
    ).repartition(7)
    s1 = sorted(map(tuple, priority_sample(df1, "src", "id", "w", k=5).collect()))
    s2 = sorted(map(tuple, priority_sample(df2, "src", "id", "w", k=5).collect()))
    assert s1 == s2
    assert len(s1) == min(5, len(rows))


def test_ivf_topk_multi_full_probe_equals_brute_force(spark):
    """Probing every centroid makes ivf_topk_multi exact: per query it
    must equal brute_force_topk (same ids, same rounded cosines, same
    ranks)."""
    import random

    from ccgp_data_wrangling_spark.operators.knn import (
        brute_force_topk,
        ivf_topk_multi,
    )

    rng = random.Random(3)
    corpus_rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(80)
    ]
    emb = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(100 + j, [rng.gauss(0, 1) for _ in range(8)]) for j in range(5)],
        "query_id long, qvec array<double>",
    )
    multi = {
        (r.query_id, r.rank): (r.vec_id, r.cos_sim)
        for r in ivf_topk_multi(
            emb, queries, 3, n_centroids=8, n_probe=8
        ).collect()
    }
    for qrow in queries.collect():
        exact = brute_force_topk(emb, list(qrow.qvec), 3).collect()
        for e in exact:
            assert multi[(qrow.query_id, e.rank)] == (e.vec_id, e.cos_sim)


def test_ivf_topk_multi_never_crosses_queries(spark):
    """Each query's results rank 1..k with no leakage between query
    ids, even when queries share probe cells."""
    from ccgp_data_wrangling_spark.operators.knn import ivf_topk_multi

    emb = spark.createDataFrame(
        [(i, [float(i % 4 == j) + 0.01 for j in range(4)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.01, 0.01, 0.01]), (1, [0.01, 1.0, 0.01, 0.01])],
        "query_id long, qvec array<double>",
    )
    out = ivf_topk_multi(emb, queries, 5, n_centroids=4, n_probe=4).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert set(per_q) == {0, 1}
    for ranks in per_q.values():
        assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_ivf_multiquery_planted_probe_inclusion(spark):
    """The ann_ivf_multiquery_planted oracle claims each planted
    near-copy is FOUND by the 8-probe IVF path.  That holds only if
    the near-copy's assigned centroid lands in its query's probe set
    for the fixed (seed=42, n_centroids=32, n_probe=8) parameters —
    an empirical fact of this corpus, not a structural guarantee.
    Assert it with the kernel calls ivf_topk_multi makes (same
    nearest_centroids assignment and probe lists), so any future
    seed/parameter change that breaks the oracle fails HERE first."""
    from ccgp_data_wrangling_spark.catalog import load_table
    from ccgp_data_wrangling_spark.operators.knn import (
        _sample_centroids,
        nearest_centroids,
    )

    PLANT_BASE = 2_000_000  # queries/llm_scale.py _PLANT_BASE
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    qdf = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qvec"),
    )
    planted = qdf.select(
        "query_id",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("j"),
        "qvec",
    ).select(
        "query_id",
        (F.lit(PLANT_BASE) + F.col("query_id") * 10 + F.col("j")).alias("vec_id"),
        F.concat(
            F.array(F.element_at("qvec", 1) + 0.01 * F.col("j")),
            F.slice("qvec", 2, 63),
        ).alias("embedding"),
    )
    corpus = (
        emb.where(F.col("vec_id") >= 10)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .unionByName(planted.select("vec_id", "embedding"))
    )
    centroids = _sample_centroids(corpus, "vec_id", "embedding", 32, 42)

    probes = nearest_centroids(qdf, centroids, 8, vec_col="qvec").select(
        "query_id", F.col("__centroids").alias("probes")
    )
    assigned = nearest_centroids(planted, centroids, vec_col="embedding").select(
        "query_id", "vec_id", F.col("__centroids")[0].alias("centroid")
    )
    rows = assigned.join(probes, "query_id").collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r.probes) == 8
        assert r.centroid in r.probes, (
            f"planted vec {r.vec_id} assigned to centroid {r.centroid} "
            f"outside query {r.query_id}'s probe set {r.probes}"
        )
