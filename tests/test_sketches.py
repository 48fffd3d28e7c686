"""Operator-level tests for the mergeable sketch family
(operators/sketches.py, operators/spandedup.py)."""

from __future__ import annotations

import re
from collections import Counter

import pyspark.sql.functions as F
import pytest

from ccgp_data_wrangling_spark.operators.sketches import (
    binned_quantiles,
    cms_estimate,
    cms_merge,
    cms_sketch,
    kmv_distinct,
    kmv_merge,
    kmv_partial,
    kmv_readout,
)
from ccgp_data_wrangling_spark.operators.spandedup import (
    span_duplication_stats,
)


def test_kmv_exact_branch_below_k(spark):
    """With fewer than k distinct values the sketch is exact."""
    df = spark.createDataFrame(
        [("a", i % 10) for i in range(100)] + [("b", i) for i in range(3)],
        "g string, v int",
    )
    out = {
        r["g"]: r.asDict()
        for r in kmv_distinct(df, "g", "v", k=64).collect()
    }
    assert out["a"]["distinct_est"] == 10
    assert out["a"]["kth_hash"] is None
    assert out["b"]["distinct_est"] == 3


def test_kmv_estimator_branch_accuracy(spark):
    """Above k the estimate lands within the expected ~1/sqrt(k) band."""
    n = 5000
    df = spark.createDataFrame(
        [("g", f"user-{i}") for i in range(n)], "g string, v string"
    )
    row = kmv_distinct(df, "g", "v", k=64).collect()[0]
    assert row["sketch_size"] == 64
    assert row["kth_hash"] is not None
    # 3 standard errors at k=64 is ~37%; deterministic, so this is a
    # fixed regression bound, not a flaky statistical one.
    assert n * 0.63 < row["distinct_est"] < n * 1.37


def test_kmv_merge_invariance(spark):
    """The estimate must not depend on the input partitioning."""
    rows = [("g", f"u{i}") for i in range(1000)]
    a = spark.createDataFrame(rows, "g string, v string").repartition(1)
    b = spark.createDataFrame(rows, "g string, v string").repartition(17)
    ra = kmv_distinct(a, "g", "v", k=32).collect()[0]["distinct_est"]
    rb = kmv_distinct(b, "g", "v", k=32).collect()[0]["distinct_est"]
    assert ra == rb


def test_kmv_partial_merge_equals_whole(spark):
    """sketch(A ∪ B) == merge(sketch(A), sketch(B)) — exactly. This
    is the property that lets per-shard/per-day partials compose
    without rescanning data."""
    rows_a = [("g", f"u{i}") for i in range(800)]
    rows_b = [("g", f"u{i}") for i in range(400, 1200)]  # overlaps A
    a = spark.createDataFrame(rows_a, "g string, v string")
    b = spark.createDataFrame(rows_b, "g string, v string")
    whole = spark.createDataFrame(rows_a + rows_b, "g string, v string")

    merged = kmv_merge(
        [kmv_partial(a, "g", "v", k=32), kmv_partial(b, "g", "v", k=32)],
        k=32,
    )
    got = kmv_readout(merged, "g", k=32).collect()[0]
    want = kmv_distinct(whole, "g", "v", k=32).collect()[0]
    assert got.asDict() == want.asDict()


def test_cms_merge_equals_whole(spark):
    """CMS is linear: cell-wise sum of shard sketches == sketch of
    the concatenated data."""
    items_a = spark.createDataFrame(
        [(f"t{i % 50}", 1) for i in range(300)], "token string, w long"
    )
    items_b = spark.createDataFrame(
        [(f"t{i % 80}", 2) for i in range(300)], "token string, w long"
    )
    whole = items_a.unionByName(items_b)
    merged = cms_merge(
        [cms_sketch(items_a, "token", "w"), cms_sketch(items_b, "token", "w")]
    )
    direct = cms_sketch(whole, "token", "w")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_kmv_stream_matches_batch(spark, tmp_path):
    """Micro-batched KMV folds must equal the one-shot batch sketch,
    including after a second run over the same checkpoint (idempotent
    replay)."""
    from ccgp_data_wrangling_spark.streaming.incremental import fold_stream
    from ccgp_data_wrangling_spark.streaming.sketch_stream import KMVStreamState

    src = tmp_path / "src"
    rows = [(f"type{i % 3}", i % 500) for i in range(2000)]
    full = spark.createDataFrame(rows, "g string, v int")
    # three files → maxFilesPerTrigger=1 forces three separate folds
    for j in range(3):
        chunk = spark.createDataFrame(
            rows[j * 700 : (j + 1) * 700], "g string, v int"
        )
        chunk.coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("g string, v int")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = KMVStreamState(spark, str(tmp_path / "state"), k=16)
    q = fold_stream(
        stream,
        lambda b: state.fold(b, "g", "v"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = sorted(map(tuple, state.estimate("g").collect()))
    want = sorted(map(tuple, kmv_distinct(full, "g", "v", k=16).collect()))
    assert got == want

    # re-run with the same checkpoint: no new files → no state change
    stream2 = (
        spark.readStream.schema("g string, v int")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q2 = fold_stream(
        stream2,
        lambda b: state.fold(b, "g", "v"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert sorted(map(tuple, state.estimate("g").collect())) == want


def test_kmv_set_overlap_accuracy(spark):
    """Known sets: |A|=3000, |B|=2500, |A∩B|=1500. The k=256 sketch
    estimates must land within the ~1/sqrt(k) band (deterministic
    hash → fixed regression values, not a flaky statistical test)."""
    from ccgp_data_wrangling_spark.operators.sketches import kmv_set_overlap

    a = spark.createDataFrame(
        [("a", f"x{i}") for i in range(3000)], "g string, v string"
    )
    b = spark.createDataFrame(
        [("b", f"x{i}") for i in range(1500, 4000)], "g string, v string"
    )
    pa = kmv_partial(a, "g", "v", k=256)
    pb = kmv_partial(b, "g", "v", k=256)
    r = kmv_set_overlap(pa, pb, k=256).collect()[0]
    assert 0.8 * 3000 < r["est_a"] < 1.2 * 3000
    assert 0.8 * 2500 < r["est_b"] < 1.2 * 2500
    assert 0.8 * 4000 < r["est_union"] < 1.2 * 4000
    true_j = 1500 / 4000
    assert 0.6 * true_j < r["jaccard_est"] < 1.4 * true_j
    assert 0.6 * 1500 < r["est_intersection"] < 1.4 * 1500


def test_kmv_set_overlap_disjoint_and_identical(spark):
    from ccgp_data_wrangling_spark.operators.sketches import kmv_set_overlap

    a = spark.createDataFrame(
        [("a", f"p{i}") for i in range(500)], "g string, v string"
    )
    b = spark.createDataFrame(
        [("b", f"q{i}") for i in range(500)], "g string, v string"
    )
    r = kmv_set_overlap(
        kmv_partial(a, "g", "v", k=64), kmv_partial(b, "g", "v", k=64), k=64
    ).collect()[0]
    assert r["jaccard_est"] == 0.0 and r["est_intersection"] == 0

    same = kmv_set_overlap(
        kmv_partial(a, "g", "v", k=64), kmv_partial(a, "g", "v", k=64), k=64
    ).collect()[0]
    assert same["jaccard_est"] == 1.0
    assert same["est_union"] == same["est_a"]


def test_cms_stream_matches_batch(spark, tmp_path):
    """Micro-batched cell-sum folds must equal the one-shot sketch."""
    from ccgp_data_wrangling_spark.streaming.incremental import fold_stream
    from ccgp_data_wrangling_spark.streaming.sketch_stream import CMSStreamState

    src = tmp_path / "src"
    rows = [(f"tok{i % 40}", (i % 5) + 1) for i in range(900)]
    for j in range(3):
        spark.createDataFrame(
            rows[j * 300 : (j + 1) * 300], "token string, w long"
        ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("token string, w long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = CMSStreamState(spark, str(tmp_path / "state"))
    q = fold_stream(
        stream,
        lambda b: state.fold(b, "token", "w"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    whole = spark.createDataFrame(rows, "token string, w long")
    want = sorted(map(tuple, cms_sketch(whole, "token", "w").collect()))
    got = sorted(map(tuple, state.read().collect()))
    assert got == want


def test_cms_never_underestimates(spark):
    items = spark.createDataFrame(
        [(f"tok{i}", (i % 7) + 1) for i in range(500)], "token string, w long"
    )
    sketch = cms_sketch(items, "token", "w")
    est = cms_estimate(sketch, items.select("token"), "token")
    joined = items.join(est, "token").collect()
    assert len(joined) == 500
    assert all(r["cms_est"] >= r["w"] for r in joined)


def test_cms_exact_when_sparse(spark):
    """Few items → no cell collisions → estimates are exact."""
    items = spark.createDataFrame(
        [("alpha", 5), ("beta", 7), ("gamma", 11)], "token string, w long"
    )
    sketch = cms_sketch(items, "token", "w")
    est = {
        r["token"]: r["cms_est"]
        for r in cms_estimate(sketch, items.select("token"), "token").collect()
    }
    assert est == {"alpha": 5, "beta": 7, "gamma": 11}


def test_cms_sketch_is_bounded(spark):
    items = spark.createDataFrame(
        [(f"t{i}", 1) for i in range(10_000)], "token string, w long"
    )
    assert cms_sketch(items, "token", "w").count() <= 4 * 256


def test_binned_quantiles_error_bound(spark):
    vals = [("g", float(v)) for v in range(1, 1001)]  # 1..1000
    df = spark.createDataFrame(vals, "g string, v double")
    row = binned_quantiles(df, "g", "v", width=10.0).collect()[0]
    # exact p50 = 500, p90 = 900; histogram answers the bin lower edge
    assert abs(row["approx_p50"] - 500.0) <= 10.0
    assert abs(row["approx_p90"] - 900.0) <= 10.0
    assert row["n"] == 1000


def test_span_dedup_short_docs_kept(spark):
    docs = spark.createDataFrame(
        [
            (1, "too short"),
            (2, "a b c d e f g h tail one"),
            (3, "a b c d e f g h tail two"),
            (4, "completely different words with no shared span here at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in span_duplication_stats(docs, window=8).collect()
    }
    assert len(out) == 4
    assert out[1]["n_windows"] == 0 and out[1]["dup_ratio"] == 0.0
    # docs 2 and 3 share the spans fully inside "a b c d e f g h tail"
    assert out[2]["n_dup_windows"] >= 1
    assert out[3]["n_dup_windows"] >= 1
    assert out[4]["n_dup_windows"] == 0


def test_span_dedup_hashed_matches_exact(spark):
    """hash_spans shuffles 8-byte keys but must agree with the string
    grouping absent collisions."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 40}" for j in range(30)))
         for i in range(40)],
        "doc_id long, text string",
    )
    exact = sorted(
        map(tuple, span_duplication_stats(docs, window=5).collect())
    )
    hashed = sorted(
        map(
            tuple,
            span_duplication_stats(docs, window=5, hash_spans=True).collect(),
        )
    )
    assert exact == hashed


def test_span_dedup_df_cap_drops_boilerplate(spark):
    """max_window_df removes ultra-common spans from both the dup set
    and the denominator-eligible dup counts."""
    boiler = "x x x x x x x x"
    docs = spark.createDataFrame(
        [(i, boiler) for i in range(50)] + [(99, "unique words only here")],
        "doc_id long, text string",
    )
    capped = span_duplication_stats(docs, window=8, max_window_df=10)
    assert capped.agg(F.sum("n_dup_windows")).collect()[0][0] == 0


# Java's \s; Spark's trim strips only ' '
_JAVA_WS = re.compile(r"[ \t\n\x0b\x0c\r]+")


def _span_row_key(r):
    return (r[0] is None, r[0] or 0, r[1], r[2])


def _brute_span_stats(rows, window, max_window_df):
    """Python reference for span_duplication_stats, with the oracle
    SQL's semantics: distinct (id, span) pairs, a null id is one more
    document, rows sharing an id pool their spans."""
    spans = set()
    for doc_id, text in rows:
        if text is not None:
            toks = _JAVA_WS.split(text.strip(" "))
            spans.update(
                (doc_id, " ".join(toks[j : j + window]))
                for j in range(len(toks) - window + 1)
            )
    span_df = Counter(s for _, s in spans)
    out = []
    for doc_id, _ in rows:
        mine = [s for d, s in spans if d == doc_id and doc_id is not None]
        dup = sum(
            1
            for s in mine
            if span_df[s] >= 2 and (max_window_df is None or span_df[s] <= max_window_df)
        )
        out.append((doc_id, len(mine), dup, dup / len(mine) if mine else 0.0))
    return sorted(out, key=_span_row_key)


@pytest.mark.parametrize("max_window_df", [None, 2])
@pytest.mark.parametrize("hash_spans", [False, True])
def test_span_dedup_edge_cases_match_brute_force(spark, hash_spans, max_window_df):
    rows = [
        (1, "a b c d e"),
        (1, "x y z a b c"),  # duplicate id: "a b c" still counts once for doc 1
        (2, "a b c q"),
        (None, "q r s t"),  # null ids still count toward a span's df
        (None, "x y z"),
        (3, "\tr s t"),  # tab-led: an empty first token
        (4, None),
        (5, "r s"),  # shorter than the window
        (6, "   \t\n  "),  # whitespace only
        (7, " r  s\x0bt "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        map(
            tuple,
            span_duplication_stats(
                docs, window=3, hash_spans=hash_spans, max_window_df=max_window_df
            ).collect(),
        ),
        key=_span_row_key,
    )
    want = _brute_span_stats(rows, 3, max_window_df)
    assert [r[:3] for r in got] == [r[:3] for r in want]
    assert [r[3] for r in got] == pytest.approx([r[3] for r in want], abs=6e-5)
    with pytest.raises(ValueError, match="n-gram width"):
        span_duplication_stats(docs, window=0)


def test_bm25_ranking_sanity(spark):
    """A document stuffed with the query terms outranks everything;
    documents without any query term never appear."""
    from ccgp_data_wrangling_spark.operators.bm25 import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta alpha"),
            (2, "alpha gamma delta epsilon zeta eta theta iota"),
            (3, "gamma delta epsilon zeta eta theta iota kappa"),
            (4, "beta beta beta unrelated words here padding tokens"),
        ],
        "doc_id long, text string",
    )
    got = bm25_topk(docs, ["alpha", "beta"], k=10).collect()
    ids = [r["doc_id"] for r in got]
    assert ids[0] == 1  # both terms, high tf, short doc
    assert 3 not in ids  # no query terms
    assert all(got[i]["bm25"] >= got[i + 1]["bm25"] for i in range(len(got) - 1))


def test_bm25_rare_term_weighs_more(spark):
    """idf: matching the rare term beats matching the common one at
    equal tf and length."""
    from ccgp_data_wrangling_spark.operators.bm25 import bm25_topk

    rows = [(i, "common filler text " + ("pad " * 5).strip()) for i in range(20)]
    rows += [(100, "rareword filler text pad pad pad pad pad")]
    rows += [(101, "common filler text pad pad pad pad pad")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["bm25"] for r in bm25_topk(docs, ["rareword", "common"], k=30).collect()}
    assert got[100] > got[101]


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------


def test_hll_accuracy_within_rse(spark):
    """Estimate within ~3 standard errors (3·1.04/√256 ≈ 20%)."""
    from ccgp_data_wrangling_spark.operators.sketches import hll_distinct

    df = spark.createDataFrame(
        [("g1", f"u{i}") for i in range(5000)]
        + [("g2", f"u{i % 40}") for i in range(400)],
        "g string, v string",
    )
    out = {
        r["g"]: r["est_distinct"]
        for r in hll_distinct(df, "g", "v").collect()
    }
    assert abs(out["g1"] - 5000) / 5000 < 0.20
    assert abs(out["g2"] - 40) / 40 < 0.20


def test_hll_merge_equals_union(spark):
    """merge(partial(A), partial(B)) == partial(A ∪ B) exactly —
    the property that lets shard/day partials compose."""
    from ccgp_data_wrangling_spark.operators.sketches import (
        hll_merge,
        hll_partial,
        hll_readout,
    )

    a = spark.createDataFrame(
        [("g", f"u{i}") for i in range(0, 600)], "g string, v string"
    )
    b = spark.createDataFrame(
        [("g", f"u{i}") for i in range(300, 900)], "g string, v string"
    )
    merged = hll_readout(
        hll_merge([hll_partial(a, "g", "v"), hll_partial(b, "g", "v")]), "g"
    ).collect()[0]
    direct = hll_readout(
        hll_partial(a.unionByName(b), "g", "v"), "g"
    ).collect()[0]
    assert merged["est_distinct"] == direct["est_distinct"]


def test_hll_layout_independent(spark):
    """Same input, different partitioning → identical estimate."""
    from ccgp_data_wrangling_spark.operators.sketches import hll_distinct

    rows = [("g", f"u{i}") for i in range(2000)]
    df1 = spark.createDataFrame(rows, "g string, v string").repartition(1)
    df17 = spark.createDataFrame(rows, "g string, v string").repartition(17)
    assert (
        hll_distinct(df1, "g", "v").collect()[0]["est_distinct"]
        == hll_distinct(df17, "g", "v").collect()[0]["est_distinct"]
    )


# ---------------------------------------------------------------------------
# Heavy hitters
# ---------------------------------------------------------------------------


def test_heavy_hitters_exact_on_skew(spark):
    """Finds exactly the values above threshold, with exact counts."""
    from ccgp_data_wrangling_spark.operators.sketches import heavy_hitters

    rows = (
        [(i, "whale") for i in range(400)]
        + [(1000 + i, "shark") for i in range(150)]
        + [(2000 + i, f"minnow{i % 200}") for i in range(450)]
    )
    df = spark.createDataFrame(rows, "rk int, v string")
    out = {
        r["value"]: r["cnt"]
        for r in heavy_hitters(
            df, "v", "rk", threshold_frac=0.10, sample_mod=4
        ).collect()
    }
    # threshold = 100 of 1000 rows: whale(400) and shark(150) qualify,
    # every minnow has ≤3 rows
    assert out == {"whale": 400, "shark": 150}


def test_heavy_hitters_layout_independent(spark):
    from ccgp_data_wrangling_spark.operators.sketches import heavy_hitters

    rows = [(i, "hot" if i % 3 == 0 else f"cold{i}") for i in range(900)]
    a = spark.createDataFrame(rows, "rk int, v string").repartition(2)
    b = spark.createDataFrame(rows, "rk int, v string").repartition(23)
    ra = sorted(map(tuple, heavy_hitters(a, "v", "rk", threshold_frac=0.2).collect()))
    rb = sorted(map(tuple, heavy_hitters(b, "v", "rk", threshold_frac=0.2).collect()))
    assert ra == rb and ra == [("hot", 300)]


# ---------------------------------------------------------------------------
# Incremental MinHash (operators/dedup.py)
# ---------------------------------------------------------------------------


def test_minhash_incremental_boundary_only(spark):
    """Pairs cross the new×old boundary only — old×old dups (settled
    at index build) and new×new dups (next self-dedup) never appear."""
    from ccgp_data_wrangling_spark.operators.dedup import (
        minhash_index,
        minhash_neardup_incremental,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    old = spark.createDataFrame(
        [
            (1, base * 3),
            (2, base * 3 + "tail"),          # old×old near-dup of 1
            (3, "completely different words about spark partitions " * 4),
        ],
        "id long, text string",
    )
    new = spark.createDataFrame(
        [
            (101, base * 3 + "zz"),           # dup of old 1 and 2
            (102, base * 3 + "zz yy"),        # new×new dup of 101 (and old)
            (103, "unrelated fresh content nothing shared here at all " * 4),
        ],
        "id long, text string",
    )
    idx = minhash_index(old, "id", "text")
    pairs = {
        (r["new_id"], r["old_id"])
        for r in minhash_neardup_incremental(
            new, idx, "id", "text", threshold=0.5
        ).collect()
    }
    assert pairs == {(101, 1), (101, 2), (102, 1), (102, 2)}


def test_hll_stream_matches_batch(spark, tmp_path):
    """Micro-batched HLL register folds == one-shot batch sketch."""
    from ccgp_data_wrangling_spark.operators.sketches import hll_distinct
    from ccgp_data_wrangling_spark.streaming.incremental import fold_stream
    from ccgp_data_wrangling_spark.streaming.sketch_stream import HLLStreamState

    src = tmp_path / "src"
    rows = [(f"type{i % 3}", i % 700) for i in range(2100)]
    full = spark.createDataFrame(rows, "g string, v int")
    for j in range(3):
        spark.createDataFrame(
            rows[j * 700 : (j + 1) * 700], "g string, v int"
        ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("g string, v int")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = HLLStreamState(spark, str(tmp_path / "state"))
    q = fold_stream(
        stream,
        lambda b: state.fold(b, "g", "v"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = sorted(map(tuple, state.estimate("g").collect()))
    want = sorted(map(tuple, hll_distinct(full, "g", "v").collect()))
    assert got == want


def test_vhist_merge_equals_direct_and_quantiles_exact(spark):
    from ccgp_data_wrangling_spark.operators.sketches import (
        vhist_merge,
        vhist_partial,
        vhist_quantiles,
    )

    rows = [("g", float(i % 100) / 3) for i in range(3000)]
    full = spark.createDataFrame(rows, "g string, v double")
    a = spark.createDataFrame(rows[:1300], "g string, v double")
    b = spark.createDataFrame(rows[1300:], "g string, v double")
    merged = vhist_merge(
        [vhist_partial(a, "g", "v"), vhist_partial(b, "g", "v")]
    )
    got = vhist_quantiles(merged, "g").collect()[0]
    want = vhist_quantiles(vhist_partial(full, "g", "v"), "g").collect()[0]
    assert tuple(got) == tuple(want)
    # exact lower-quantile of the rounded values
    import math

    vals = sorted(round(v * 100) / 100 for _, v in rows)
    assert got["p50"] == vals[math.ceil(0.5 * len(vals)) - 1]
    assert got["p99"] == vals[math.ceil(0.99 * len(vals)) - 1]


def test_vhist_stream_matches_batch(spark, tmp_path):
    """Micro-batched digest folds == one-shot digest quantiles."""
    from ccgp_data_wrangling_spark.operators.sketches import (
        vhist_partial,
        vhist_quantiles,
    )
    from ccgp_data_wrangling_spark.streaming.incremental import fold_stream
    from ccgp_data_wrangling_spark.streaming.sketch_stream import VHistStreamState

    src = tmp_path / "src"
    rows = [("t", float(i % 250) / 7) for i in range(2100)]
    full = spark.createDataFrame(rows, "g string, v double")
    for j in range(3):
        spark.createDataFrame(
            rows[j * 700 : (j + 1) * 700], "g string, v double"
        ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("g string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = VHistStreamState(spark, str(tmp_path / "state"))
    q = fold_stream(
        stream,
        lambda b: state.fold(b, "g", "v"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, state.quantiles("g").collect()))
    want = sorted(
        map(tuple, vhist_quantiles(vhist_partial(full, "g", "v"), "g").collect())
    )
    assert got == want


def test_heavy_hitters_keeps_null_values(spark):
    """A NULL heavy-hitter value must be reported with its exact count,
    like the full groupBy the operator replaces (eqNullSafe semi-join;
    NULL row keys still enter the sample)."""
    from ccgp_data_wrangling_spark.operators.sketches import heavy_hitters

    rows = [(i, None if i % 2 == 0 else "hot") for i in range(400)]
    rows += [(1000 + i, f"tail{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "rk int, v string")
    out = {
        r.value: r.cnt
        for r in heavy_hitters(
            df, "v", "rk", threshold_frac=0.1, sample_mod=4
        ).collect()
    }
    assert out.get("hot") == 200
    assert out.get(None) == 200
    assert all(k in (None, "hot") for k in out)


def test_topk_stream_matches_batch(spark, tmp_path):
    """Incremental per-query top-k folds over corpus chunks must equal
    the one-shot brute-force top-k over the full corpus — including a
    replayed fold (idempotent: scores are pure, union dedups)."""
    import random

    from ccgp_data_wrangling_spark.operators.knn import brute_force_topk
    from ccgp_data_wrangling_spark.streaming.incremental import fold_stream
    from ccgp_data_wrangling_spark.streaming.sketch_stream import TopKStreamState

    rng = random.Random(23)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(120)]
    full = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(100 + j, [rng.gauss(0, 1) for _ in range(8)]) for j in range(4)],
        "query_id long, qvec array<double>",
    )

    src = tmp_path / "corpus"
    for j in range(3):
        spark.createDataFrame(
            rows[j * 40 : (j + 1) * 40], "vec_id long, embedding array<double>"
        ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = TopKStreamState(spark, str(tmp_path / "tk_state"), queries, k=5)
    q = fold_stream(
        stream,
        lambda b: state.fold(b, "vec_id", "embedding"),
        checkpoint_dir=str(tmp_path / "tk_ckpt"),
    )
    q.awaitTermination(120)

    got = {
        (r.query_id, r.rank): (r.id, r.score) for r in state.topk().collect()
    }
    for qrow in queries.collect():
        for e in brute_force_topk(full, list(qrow.qvec), 5).collect():
            assert got[(qrow.query_id, e.rank)] == (e.vec_id, e.cos_sim)

    # replay the SAME chunk manually: state must not change
    before = sorted(map(tuple, state.read().collect()))
    chunk0 = spark.createDataFrame(
        rows[:40], "vec_id long, embedding array<double>"
    )
    state.fold(chunk0, "vec_id", "embedding")
    assert sorted(map(tuple, state.read().collect())) == before


def test_topk_stream_survives_zero_vector(spark, tmp_path):
    """An all-zero corpus vector scores a null cosine instead of
    failing the drain (ANSI DIVIDE_BY_ZERO), and never enters a
    per-query top-k that real vectors fill: the drained state equals
    the one-shot brute-force top-k."""
    import random

    from ccgp_data_wrangling_spark.operators.knn import brute_force_topk
    from ccgp_data_wrangling_spark.streaming.incremental import fold_stream
    from ccgp_data_wrangling_spark.streaming.sketch_stream import TopKStreamState

    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(4)]) for i in range(20)]
    rows.insert(7, (99, [0.0] * 4))
    schema = "vec_id long, embedding array<double>"
    queries = spark.createDataFrame(
        [(100 + j, [rng.gauss(0, 1) for _ in range(4)]) for j in range(2)],
        "query_id long, qvec array<double>",
    )
    src = tmp_path / "corpus"
    for chunk in (rows[:10], rows[10:]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = TopKStreamState(spark, str(tmp_path / "state"), queries, k=3)
    fold_stream(
        stream,
        lambda b: state.fold(b, "vec_id", "embedding"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).awaitTermination(120)

    got = {(r.query_id, r.rank): (r.id, r.score) for r in state.topk().collect()}
    assert len(got) == 6 and all(i != 99 for i, _ in got.values())
    full = spark.createDataFrame(rows, schema)
    for qrow in queries.collect():
        for e in brute_force_topk(full, list(qrow.qvec), 3).collect():
            assert got[(qrow.query_id, e.rank)] == (e.vec_id, e.cos_sim)
