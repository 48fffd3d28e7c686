"""Empty-input robustness: every operator family must return an
empty result — never raise — on empty frames (production pipelines
hit empty batches, empty partitions, and zero-row filters daily)."""

from __future__ import annotations

import pytest

from ccgp_data_wrangling_spark.operators.cdc import cdc_chunk_dedup
from ccgp_data_wrangling_spark.operators.dedup import (
    minhash_neardup_pairs,
    tfidf_cosine_pairs,
)
from ccgp_data_wrangling_spark.operators.diff import snapshot_diff_summary
from ccgp_data_wrangling_spark.operators.geojoin import geo_radius_join
from ccgp_data_wrangling_spark.operators.rangejoin import interval_coverage
from ccgp_data_wrangling_spark.operators.sketches import (
    heavy_hitters,
    hll_distinct,
    kmv_distinct,
)
from ccgp_data_wrangling_spark.operators.textprep import (
    quantile_bucket_sample,
)
from ccgp_data_wrangling_spark.pipelines.resolution import resolve_entities


@pytest.mark.parametrize(
    "name",
    [
        "hll", "kmv", "heavy", "diff", "interval", "qbucket",
        "minhash", "tfidf_cos", "cdc", "geo", "resolve",
    ],
)
def test_empty_input_returns_empty(spark, name):
    docs = spark.createDataFrame([], "doc_id long, text string")
    kv = spark.createDataFrame([], "g string, v double")
    runs = {
        "hll": lambda: hll_distinct(kv, "g", "v"),
        "kmv": lambda: kmv_distinct(kv, "g", "v"),
        "heavy": lambda: heavy_hitters(
            spark.createDataFrame([], "rk long, v string"), "v", "rk"
        ),
        "diff": lambda: snapshot_diff_summary(docs, docs, ["doc_id"]),
        "interval": lambda: interval_coverage(
            spark.createDataFrame([], "k string, s long, e long"),
            "k", "s", "e",
        ),
        "qbucket": lambda: quantile_bucket_sample(
            spark.createDataFrame([], "doc_id long, score double"),
            "score", [50, 100, 100, 25],
        ),
        "minhash": lambda: minhash_neardup_pairs(docs, "doc_id", "text"),
        "tfidf_cos": lambda: tfidf_cosine_pairs(docs, "doc_id", "text"),
        "cdc": lambda: cdc_chunk_dedup(docs, "doc_id", "text"),
        "geo": lambda: geo_radius_join(
            spark.createDataFrame([], "id long, lat double, lon double"),
            "id", "lat", "lon", radius_km=25.0,
        ),
        "resolve": lambda: resolve_entities(
            spark.createDataFrame([], "rec_id long, name string, balance double")
        ),
    }
    assert runs[name]().collect() == []


def test_empty_input_round5_operators(spark):
    """Round-5 operators: BPE training returns no merges (and encoding
    with an empty merge list is char-level), WARC explode yields no
    records, interval-intersect streams yield no pairs, spectral
    features yield no rows."""
    from ccgp_data_wrangling_spark.operators.bpe import (
        bpe_encode_expr,
        bpe_train,
    )
    from ccgp_data_wrangling_spark.operators.rangejoin import (
        interval_intersect_join,
    )
    from ccgp_data_wrangling_spark.sources.warc import warc_records
    from ccgp_data_wrangling_spark.streaming.incremental import (
        interval_intersect_stream,
    )

    from pyspark.sql import functions as F

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert bpe_train(docs, "text", n_merges=3) == []
    one = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    assert one.select(
        bpe_encode_expr(F.col("text"), []).alias("t")
    ).collect()[0].t == ["a", "b", "</w>"]

    archives = spark.createDataFrame([], "archive_id long, payload binary")
    assert warc_records(archives).collect() == []

    iv = spark.createDataFrame([], "k string, s double, e double")
    assert (
        interval_intersect_join(
            iv, iv.select(
                F.col("k"), F.col("s").alias("s2"), F.col("e").alias("e2")
            ),
            "s", "e", "s2", "e2", on=["k"], bucket_width=10,
        ).collect()
        == []
    )

    ts = spark.createDataFrame(
        [], "u string, a timestamp, b timestamp"
    )
    ts2 = spark.createDataFrame(
        [], "u string, c timestamp, d timestamp"
    )
    assert (
        interval_intersect_stream(
            ts, ts2, on="u",
            left_start="a", left_end="b", right_start="c", right_end="d",
        ).collect()
        == []
    )


def test_empty_input_round6_operators(spark):
    """Round-6 operators: empty embedding corpora flow through both
    Arrow kernels (incl. an empty centroid sample), the Hamming join
    and pHash components yield no pairs, WARC curation yields no
    rows, and PII redaction of an empty frame stays empty."""
    from pyspark.sql import functions as F

    from ccgp_data_wrangling_spark.operators.components import (
        neardup_clusters,
    )
    from ccgp_data_wrangling_spark.operators.dedup import (
        hamming_neardup_pairs,
    )
    from ccgp_data_wrangling_spark.operators.knn import (
        ann_topk,
        ivf_topk,
        ivf_topk_multi,
        nearest_centroids,
        srp_buckets,
    )
    from ccgp_data_wrangling_spark.operators.privacy import pii_redact
    from ccgp_data_wrangling_spark.operators.semdedup import (
        semantic_dedup,
        semantic_dedup_lsh,
    )
    from ccgp_data_wrangling_spark.streaming.warc_stream import (
        curate_warc_records,
    )
    from ccgp_data_wrangling_spark.sources.warc import WARC_RECORD_SCHEMA

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    q = spark.createDataFrame([], "query_id long, qvec array<double>")
    assert semantic_dedup(emb).collect() == []
    assert semantic_dedup_lsh(emb, dim=4).collect() == []
    assert ivf_topk_multi(emb, q, 3).collect() == []
    assert ivf_topk(emb, [1.0, 0.0, 0.0, 0.0], 3).collect() == []
    assert ann_topk(emb, [1.0, 0.0, 0.0, 0.0], 3).collect() == []
    assert nearest_centroids(emb, [], vec_col="embedding").collect() == []
    assert nearest_centroids(emb, [[1.0, 0.0]], 2, vec_col="embedding").collect() == []
    assert srp_buckets(emb, [[[1.0, 0.0]]], vec_col="embedding").collect() == []

    fp = spark.createDataFrame([], "id long, bits long")
    pairs = hamming_neardup_pairs(fp, "id", "bits")
    assert pairs.collect() == []
    assert neardup_clusters(pairs).collect() == []

    recs = spark.createDataFrame([], WARC_RECORD_SCHEMA)
    assert curate_warc_records(recs).collect() == []

    docs = spark.createDataFrame([], "doc_id long, t string")
    red, counts = pii_redact(F.col("t"))
    assert docs.select(red.alias("r"), *counts.values()).collect() == []
